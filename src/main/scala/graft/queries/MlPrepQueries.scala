package graft.queries

import graft.{HistogramWalk, QueryDef, Tables}
import graft.LinearFit._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** ml.prep — the reference's model-preparation surface re-expressed as
  * distributed, verifiable queries (reference:
  * `/root/reference/data_apis/my_model.py`):
  *
  *  - chronological cutoff split (`temporal_split`, my_model.py:426-444):
  *    test = last N months before the max date, train = everything earlier;
  *  - rolling-window splits (`get_rolling_window_splits`,
  *    my_model.py:446-482): fixed-size train window + following test
  *    window, both sliding forward by the test span until the test window
  *    would pass the max date;
  *  - year-based split (`temporal_split_by_years`, my_model.py:484-520):
  *    train = a consecutive-year range, test = the following year;
  *  - median fill (`fill_empty_dsh`, my_model.py:63-66): nulls in
  *    days-since-holiday replaced by the column median;
  *  - `df_preparation` (my_model.py:68-90): per-key head-trim → median
  *    fill → flag cast, composed as one pipeline.
  *
  * Scale notes:
  *  - Split boundaries derive from a 1-row bounds aggregate that is
  *    broadcast — no driver-side `.collect()`, no date constants baked in.
  *    Candidate split indices come from `sequence`+`explode` on that row
  *    (distributed generation, same pattern as S11) and invalid indices are
  *    filtered by the data-driven stop condition, mirroring the reference's
  *    while-loop without sequential iteration.
  *  - Role labeling is a broadcast range join (splits frame is tiny by
  *    construction: one row per window, not per data row).
  *  - The exact median comes from a VALUE-HISTOGRAM, not a global sort: a
  *    groupBy on the (small-domain) value followed by a cumulative count
  *    locates the two middle order statistics. The full data never passes
  *    through one partition — only the histogram does. Median = mean of the
  *    two middle order statistics, the same interpolation pandas and DuckDB
  *    use, computed from exact integer sums so the double is bit-identical
  *    cross-engine.
  */
object MlPrepQueries {

  private val TestMonths = 12   // temporal_split default test span
  private val TrainMonths = 12  // rolling: fixed train window
  private val StepMonths = 3    // rolling: test span == slide step
  /** Upper bound on candidate rolling windows; the data-driven filter
    * (test_end <= max date) keeps only valid ones. 600 months = 50 years,
    * far beyond any fixture span; raise for longer archives. */
  private val MaxWindows = 200

  /** mlprep_permutation_importance's moments: [[OlsYy]] plus the cross
    * terms with x1 or x2 replaced by its permuted copy (x1p, x2p), and
    * the [[sse]] term names that swap them in for feature 1 or 2. */
  private val PermMoments: Seq[Moment] = OlsYy ++ Seq(
    "l1py" -> Seq("x1p", "yq"), "l1p2" -> Seq("x1p", "x2"),
    "l2py" -> Seq("x2p", "yq"), "l12p" -> Seq("x1", "x2p"))
  private val Perm1 = Map("1y" -> "s1py", "12" -> "s1p2").withDefault("s" + _)
  private val Perm2 = Map("2y" -> "s2py", "12" -> "s12p").withDefault("s" + _)

  /** mlprep_pca's moments: the second moments of (x1, x2, x3). */
  private val PcaMoments = normal(Seq(1, 2, 3), target = false)

  /** mlprep_forward_select's moments over (x1, x2, x3), and the [[sse]]
    * term names of its pair fit on features (a, b). */
  private val FwdMoments = normal(Seq(1, 2, 3), yy = true)
  private def pairNames(a: Int, b: Int): String => String =
    k => "s" + k.map {
      case '1' => ('0' + a).toChar
      case '2' => ('0' + b).toChar
      case c => c
    }

  /** (median) 1-row frame of the exact median of an integral column:
    * the mean of the two middle order statistics of its value histogram
    * ([[graft.HistogramWalk]], whose guard names `row`). */
  private[graft] def histogramMedian(vals: DataFrame, c: String,
      row: String = "mlprep", maxDomain: Long = HistogramWalk.MaxCells
      ): DataFrame =
    HistogramWalk.walk(vals.filter(col(c).isNotNull), Nil, c,
      s"$row/histogramMedian", maxDomain)(
      "median" -> (HistogramWalk.median2(c) / 2.0))

  /** Oracle-side mirror of [[histogramMedian]] as a CTE: expects a
    * relation `vals(v)`, yields `med(median)`. */
  private def oHistogramMedian: String =
    s"""med AS (
       |  ${HistogramWalk.oWalk("vals WHERE v IS NOT NULL", Nil, "v")(
            s"(${HistogramWalk.oMedian2("v")}) / 2.0 AS median")})"""
      .stripMargin

  /** The leakage-safe fit of the binning, robust-scaler and PSI rows:
    * over `ev(day, value, …)`, the 1-row `cutoff` (the last day − 7) and
    * the 1-row `edges` (the named `fits`) of the walk over the TRAIN
    * rows' cent grid `vc` ([[graft.HistogramWalk]], whose guard names
    * `row`). Only the bounded histogram sorts; both rows ride broadcasts
    * onto the transform scan. */
  private def trainEdges(ev: DataFrame, row: String)(
      fits: (String, Column)*): (DataFrame, DataFrame) = {
    val cutoff = ev.agg(date_sub(max("day"), 7).as("cutoff"))
    val train = ev.crossJoin(broadcast(cutoff))
      .filter(col("day") < col("cutoff"))
      .select(graft.Parity.lq(col("value")).as("vc"))
    (cutoff, HistogramWalk.walk(train, Nil, "vc", row)(fits: _*))
  }

  /** Oracle-side mirror of [[trainEdges]] as CTEs: expects a relation
    * `ev(day, value, …)`, yields `c(cutoff)` and `e(fits…)`. */
  private def oTrainEdges(fits: String*): String =
    s"""c AS (
       |  SELECT CAST(max(day) - INTERVAL 7 DAY AS DATE) AS cutoff
       |  FROM ev),
       |e AS (
       |  ${HistogramWalk.oWalk(s"(SELECT ${graft.Parity.oLq("value")} " +
            "AS vc FROM ev, c WHERE ev.day < c.cutoff)", Nil, "vc")(
            fits: _*)})""".stripMargin

  /** The `exchange_maintenance` calendar from the committed fixture
    * ([[graft.sources.CalendarSource]]): its first entry falls mid-range of
    * the events fixture, so days before it get NULL days-since-holiday —
    * the fill_empty_dsh precondition (my_model.py:63-66). */
  private def holidayDim(s: SparkSession): DataFrame =
    graft.sources.CalendarSource.dim(s, "exchange_maintenance")
  private val oHolidays =
    s"""holidays AS (
      |  SELECT CAST(h AS DATE) AS holiday FROM
      |    ${graft.sources.CalendarSource.valuesSql("exchange_maintenance")})""".stripMargin

  /** day → days-since-most-recent-holiday (NULL before the first holiday),
    * the f16 as-of shape over an arbitrary day frame. */
  private def daysSinceHoliday(days: DataFrame, s: SparkSession): DataFrame =
    days.join(broadcast(holidayDim(s)), col("holiday") <= col("day"), "left")
      .groupBy("day")
      .agg(max("holiday").as("last_holiday"))
      .select(col("day"),
        datediff(col("day"), col("last_holiday")).cast("long").as("dsh"))

  val all: Seq[QueryDef] = Seq(

    // MLP1: chronological cutoff split (my_model.py:426-444) — cutoff is
    // max(date) minus the test span; strict `<` on the train side exactly
    // as the reference masks it.
    QueryDef(
      "mlprep_temporal_split",
      Some(s"""WITH mx AS (
              |  SELECT CAST(max(CAST(o_orderdate AS DATE))
              |    - INTERVAL $TestMonths MONTH AS DATE) AS cutoff
              |  FROM orders)
              |SELECT o_orderkey, CAST(o_orderdate AS DATE) AS day,
              |  CASE WHEN CAST(o_orderdate AS DATE) < cutoff
              |    THEN 'train' ELSE 'test' END AS role
              |FROM orders, mx""".stripMargin),
      (s, d) => {
        val orders = Tables.orders(s, d)
          .select(col("o_orderkey"), to_date(col("o_orderdate")).as("day"))
        val cutoff = orders
          .agg(add_months(max(col("day")), -TestMonths).as("cutoff"))
        orders.crossJoin(broadcast(cutoff))
          .select(col("o_orderkey"), col("day"),
            when(col("day") < col("cutoff"), "train").otherwise("test")
              .as("role"))
      }),

    // MLP2: rolling-window splits (my_model.py:446-482). One row per
    // (window, role) with count + date bounds + an exact integer checksum —
    // the verifiable fingerprint of each emitted train/test frame.
    QueryDef(
      "mlprep_rolling_splits",
      Some(s"""WITH bounds AS (
              |  SELECT min(CAST(o_orderdate AS DATE)) AS lo,
              |         max(CAST(o_orderdate AS DATE)) AS hi
              |  FROM orders),
              |splits AS (
              |  SELECT k AS split_id,
              |    CAST(lo + INTERVAL ($StepMonths * k) MONTH AS DATE)
              |      AS train_start,
              |    CAST(lo + INTERVAL ($StepMonths * k + $TrainMonths) MONTH
              |      AS DATE) AS train_end,
              |    CAST(lo + INTERVAL
              |      ($StepMonths * k + $TrainMonths + $StepMonths) MONTH
              |      AS DATE) AS test_end
              |  FROM bounds, generate_series(0, $MaxWindows) t(k)
              |  WHERE lo + INTERVAL
              |      ($StepMonths * k + $TrainMonths + $StepMonths) MONTH
              |    <= hi),
              |labeled AS (
              |  SELECT s.split_id,
              |    CASE WHEN CAST(o.o_orderdate AS DATE) < s.train_end
              |      THEN 'train' ELSE 'test' END AS role,
              |    CAST(o.o_orderdate AS DATE) AS day, o.o_orderkey
              |  FROM orders o JOIN splits s
              |    ON CAST(o.o_orderdate AS DATE) >= s.train_start
              |   AND CAST(o.o_orderdate AS DATE) < s.test_end)
              |SELECT split_id, role, count(*) AS n_rows,
              |  min(day) AS first_day, max(day) AS last_day,
              |  CAST(sum(o_orderkey) AS BIGINT) AS key_checksum
              |FROM labeled GROUP BY split_id, role""".stripMargin),
      (s, d) => {
        val orders = Tables.orders(s, d)
          .select(col("o_orderkey"), to_date(col("o_orderdate")).as("day"))
        val bounds = orders.agg(min("day").as("lo"), max("day").as("hi"))
        val splits = bounds
          .select(explode(sequence(lit(0), lit(MaxWindows))).as("k"),
                  col("lo"), col("hi"))
          .select(col("k").cast("long").as("split_id"),
            add_months(col("lo"), col("k") * StepMonths).as("train_start"),
            add_months(col("lo"), col("k") * StepMonths + TrainMonths)
              .as("train_end"),
            add_months(col("lo"),
              col("k") * StepMonths + TrainMonths + StepMonths)
              .as("test_end"),
            col("hi"))
          .filter(col("test_end") <= col("hi"))
          .drop("hi")
        orders.join(broadcast(splits),
            col("day") >= col("train_start") && col("day") < col("test_end"))
          .select(col("split_id"),
            when(col("day") < col("train_end"), "train").otherwise("test")
              .as("role"),
            col("day"), col("o_orderkey"))
          .groupBy("split_id", "role")
          .agg(count(lit(1)).as("n_rows"),
               min("day").as("first_day"), max("day").as("last_day"),
               sum("o_orderkey").as("key_checksum"))
      }),

    // MLP3: year-range split (my_model.py:484-520) — train on two
    // consecutive years, test on the next; rows outside are excluded.
    QueryDef(
      "mlprep_year_split",
      Some("""SELECT o_orderkey,
             |  CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS yr,
             |  CASE WHEN year(CAST(o_orderdate AS DATE)) <= 1997
             |    THEN 'train' ELSE 'test' END AS role
             |FROM orders
             |WHERE year(CAST(o_orderdate AS DATE)) BETWEEN 1996 AND 1998""".stripMargin),
      (s, d) =>
        Tables.orders(s, d)
          .select(col("o_orderkey"),
            year(to_date(col("o_orderdate"))).as("yr"))
          .filter(col("yr").between(1996, 1998))
          .select(col("o_orderkey"), col("yr"),
            when(col("yr") <= 1997, "train").otherwise("test").as("role"))),

    // MLP4: median fill (my_model.py:63-66) — days-since-holiday per day
    // with the pre-first-holiday NULLs replaced by the exact column median
    // (value-histogram order statistics; see scaladoc).
    QueryDef(
      "mlprep_median_fill",
      Some(s"""WITH $oHolidays,
              |days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
              |dsh AS (
              |  SELECT d.day,
              |    CAST(datediff('day',
              |      (SELECT max(holiday) FROM holidays WHERE holiday <= d.day),
              |      d.day) AS BIGINT) AS dsh
              |  FROM days d),
              |vals AS (SELECT dsh AS v FROM dsh),
              |$oHistogramMedian
              |SELECT day, dsh,
              |  coalesce(CAST(dsh AS DOUBLE), median) AS dsh_filled
              |FROM dsh, med""".stripMargin),
      (s, d) => {
        val days = Tables.events(s, d)
          .select(to_date(col("ts")).as("day")).distinct()
        val dsh = daysSinceHoliday(days, s)
        val med = histogramMedian(dsh.select(col("dsh")), "dsh",
          "mlprep_median_fill")
        dsh.crossJoin(broadcast(med))
          .select(col("day"), col("dsh"),
            coalesce(col("dsh").cast("double"), col("median"))
              .as("dsh_filled"))
      }),

    // MLP5: df_preparation composition (my_model.py:68-90): per-key head
    // trim (trim_top_rows, 20 rows) → days-since-holiday lookup → median
    // fill OVER THE TRIMMED FRAME (the reference fills after trimming, so
    // the median is computed on what survives) → boolean flag cast to int
    // → chronological role. Cutoff span is days instead of months because
    // the events fixture covers one month; the mask shape is identical.
    QueryDef(
      "mlprep_prepare",
      Some(s"""WITH $oHolidays,
              |trimmed AS (
              |  SELECT event_id, user_id, value, CAST(ts AS DATE) AS day
              |  FROM (
              |    SELECT *, row_number() OVER (PARTITION BY user_id
              |      ORDER BY ts, event_id) AS rn
              |    FROM events) WHERE rn > 20),
              |dsh AS (
              |  SELECT t.*,
              |    CAST(datediff('day',
              |      (SELECT max(holiday) FROM holidays WHERE holiday <= t.day),
              |      t.day) AS BIGINT) AS dsh
              |  FROM trimmed t),
              |vals AS (SELECT dsh AS v FROM dsh),
              |$oHistogramMedian,
              |mx AS (
              |  SELECT CAST(max(day) - INTERVAL 7 DAY AS DATE) AS cutoff
              |  FROM trimmed)
              |SELECT event_id, day,
              |  coalesce(CAST(dsh AS DOUBLE), median) AS dsh_filled,
              |  CAST(CASE WHEN value >= 50.0 THEN 1 ELSE 0 END AS BIGINT)
              |    AS high_flag,
              |  CASE WHEN day < cutoff THEN 'train' ELSE 'test' END AS role
              |FROM dsh, med, mx""".stripMargin),
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val trimmed = Tables.events(s, d)
          .select(col("event_id"), col("user_id"), col("value"), col("ts"),
            to_date(col("ts")).as("day"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") > 20)
        val withDsh = trimmed
          .join(broadcast(
            daysSinceHoliday(trimmed.select("day").distinct(), s)), "day")
        val med = histogramMedian(withDsh.select(col("dsh")), "dsh",
          "mlprep_prepare")
        val cutoff = trimmed.agg(date_sub(max(col("day")), 7).as("cutoff"))
        withDsh.crossJoin(broadcast(med)).crossJoin(broadcast(cutoff))
          .select(col("event_id"), col("day"),
            coalesce(col("dsh").cast("double"), col("median"))
              .as("dsh_filled"),
            when(col("value") >= 50.0, 1L).otherwise(0L).as("high_flag"),
            when(col("day") < col("cutoff"), "train").otherwise("test")
              .as("role"))
      }),

    // MLP6: leakage-safe feature scaling — the fit/transform split sklearn's
    // StandardScaler/MinMaxScaler enforce by API and a SQL pipeline has to
    // enforce by CONSTRUCTION: scaler statistics (mean/std/min/max) come
    // from the TRAIN ROWS ONLY (before the chronological cutoff, MLP1's
    // rule), then apply to every row — test rows are scaled by train stats,
    // never their own (the classic leak). Stats follow the Parity doctrine
    // (lq long moments, one identical IEEE tree for mean/std on both
    // engines). Scale shape: stats are ONE 1-row aggregate broadcast back;
    // the corpus is scanned once for the fit and once for the transform.
    // Precondition: a non-empty events fixture with a non-empty train
    // span (both engines emit one all-NULL-stat st row when the train
    // filter matches nothing — z/minmax then NULL out identically, but a
    // FULLY empty events table is outside the verified contract).
    QueryDef(
      "mlprep_scaler",
      Some(s"""WITH ev AS (
              |  SELECT event_id, CAST(ts AS DATE) AS day, value FROM events),
              |c AS (
              |  SELECT CAST(max(day) - INTERVAL 7 DAY AS DATE) AS cutoff
              |  FROM ev),
              |st AS (
              |  SELECT CAST(count(*) AS DOUBLE) AS n,
              |    CAST(SUM(${graft.Parity.oLq("value")}) AS DOUBLE) / 100.0
              |      AS s1,
              |    CAST(SUM(${graft.Parity.oLq("value")} *
              |      ${graft.Parity.oLq("value")}) AS DOUBLE) / 10000.0 AS s2,
              |    min(value) AS mn, max(value) AS mx
              |  FROM ev, c WHERE ev.day < c.cutoff)
              |SELECT event_id, day, value,
              |  CASE WHEN day < cutoff THEN 'train' ELSE 'test' END AS role,
              |  (value - s1 / n) /
              |    nullif(sqrt((s2 - s1 * s1 / n) / (n - 1.0)), 0.0) AS z,
              |  (value - mn) / nullif(mx - mn, 0.0) AS minmax
              |FROM ev, c, st""".stripMargin),
      (s, d) => {
        import graft.Parity
        val ev = Tables.events(s, d)
          .select(col("event_id"), to_date(col("ts")).as("day"),
            col("value"))
          // two readers: the cutoff/fit aggregates and the transform scan
          .persist()
        val cutoff = ev.agg(date_sub(max("day"), 7).as("cutoff"))
        val st = ev.crossJoin(broadcast(cutoff))
          .filter(col("day") < col("cutoff"))
          .agg(count(lit(1)).cast("double").as("n"),
            (sum(Parity.lq(col("value"))).cast("double") / 100.0).as("s1"),
            (sum(Parity.lq(col("value")) * Parity.lq(col("value")))
              .cast("double") / 10000.0).as("s2"),
            min("value").as("mn"), max("value").as("mx"))
        ev.crossJoin(broadcast(cutoff)).crossJoin(broadcast(st))
          .select(col("event_id"), col("day"), col("value"),
            when(col("day") < col("cutoff"), "train").otherwise("test")
              .as("role"),
            ((col("value") - col("s1") / col("n")) /
              nullif(sqrt((col("s2") - col("s1") * col("s1") / col("n")) /
                (col("n") - 1.0)), lit(0.0))).as("z"),
            ((col("value") - col("mn")) /
              nullif(col("mx") - col("mn"), lit(0.0))).as("minmax"))
      }),

    // MLP7: leakage-safe quantile binning (KBinsDiscretizer, quantile
    // strategy) — bin edges are the TRAIN split's exact quartiles (a22's
    // lossless cent-grid histogram, ungrouped), applied to every row;
    // test rows are binned by train edges, never their own. The edges
    // ride one 1-row broadcast; the histogram windows run over the
    // bounded grid.
    QueryDef(
      "mlprep_binning",
      Some(s"""WITH ev AS (
             |  SELECT event_id, CAST(ts AS DATE) AS day, value FROM events),
             |${oTrainEdges(Seq(25, 50, 75).map(p =>
                  s"${HistogramWalk.oCentQuantile(p)} AS e$p"): _*)}
             |SELECT event_id, day, value,
             |  CASE WHEN day < cutoff THEN 'train' ELSE 'test' END AS role,
             |  CAST(CASE WHEN value <= e25 THEN 0 WHEN value <= e50 THEN 1
             |       WHEN value <= e75 THEN 2 ELSE 3 END AS BIGINT)
             |    AS bucket,
             |  e25, e50, e75
             |FROM ev, c, e""".stripMargin),
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("event_id"), to_date(col("ts")).as("day"),
            col("value"))
          .persist() // cutoff/fit aggregates + the binning scan
        val (cutoff, edges) = trainEdges(ev, "mlprep_binning")(
          Seq(25, 50, 75).map(p =>
            s"e$p" -> HistogramWalk.centQuantile(p)): _*)
        ev.crossJoin(broadcast(cutoff)).crossJoin(broadcast(edges))
          .select(col("event_id"), col("day"), col("value"),
            when(col("day") < col("cutoff"), "train").otherwise("test")
              .as("role"),
            when(col("value") <= col("e25"), 0L)
              .when(col("value") <= col("e50"), 1L)
              .when(col("value") <= col("e75"), 2L)
              .otherwise(3L).as("bucket"),
            col("e25"), col("e50"), col("e75"))
      }),

    // ROBUST SCALER — the sklearn import the reference's model file
    // actually pulls (`my_model.py:5` RobustScaler) that mlprep_scaler's
    // standard/minmax pair did not cover: (x − median) / IQR, fit on the
    // TRAIN split only (leakage-safe like the scaler/binning family).
    // Quantiles are exact order statistics off the cent-grid histogram
    // (median = mean of the two middle order stats, the pandas/DuckDB
    // interpolation; q25/q75 = the binning convention's upper order
    // statistic) — the full data never sorts, only the bounded histogram
    // does, and the three edges ride one broadcast row to the transform
    // scan. Robust-vs-standard behavior is visible in-row: outliers move
    // z but cannot move zr's center or spread.
    //
    // Parity: the histogram is exact longs; med/IQR de-scale once; the
    // transform is one identical subtract→divide IEEE tree both sides.
    QueryDef(
      "mlprep_robust_scaler",
      Some {
        val (oLo, oHi) = HistogramWalk.oMiddle("vc")
        s"""WITH ev AS (
             |  SELECT event_id, CAST(ts AS DATE) AS day, value FROM events),
             |${oTrainEdges(
                  s"(CAST($oLo AS DOUBLE) +\n    CAST($oHi AS DOUBLE)) " +
                    "/ 2.0 / 100.0 AS med",
                  s"${HistogramWalk.oCentQuantile(75)}\n    - " +
                    s"${HistogramWalk.oCentQuantile(25)} AS iqr")}
             |SELECT event_id, day, value,
             |  CASE WHEN day < cutoff THEN 'train' ELSE 'test' END AS role,
             |  med, iqr,
             |  (value - med) / nullif(iqr, 0.0) AS zr
             |FROM ev, c, e""".stripMargin
      },
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("event_id"), to_date(col("ts")).as("day"),
            col("value"))
          .persist() // cutoff/fit aggregates + the transform scan
        val (lo, hi) = HistogramWalk.middle("vc")
        val (cutoff, edges) = trainEdges(ev, "mlprep_robust_scaler")(
          "med" -> ((lo.cast("double") + hi.cast("double")) /
            lit(2.0) / lit(100.0)),
          "iqr" -> (HistogramWalk.centQuantile(75) -
            HistogramWalk.centQuantile(25)))
        ev.crossJoin(broadcast(cutoff)).crossJoin(broadcast(edges))
          .select(col("event_id"), col("day"), col("value"),
            when(col("day") < col("cutoff"), "train").otherwise("test")
              .as("role"),
            col("med"), col("iqr"),
            ((col("value") - col("med")) / nullif(col("iqr"), lit(0.0)))
              .as("zr"))
      }),

    // ROC CURVE — sklearn's `roc_curve` beside the single-threshold
    // eval_report: one point per DISTINCT score (threshold = that score,
    // predict positive at score ≥ threshold), per ISO week, computed
    // entirely from the SCORE HISTOGRAM — the corpus aggregates once to
    // (period, score) cells, cumulative windows over the ≤40-row-per-
    // period histogram yield every point's TP/FP, and no per-row rank or
    // sort ever runs. The curve the sklearn call materializes over the
    // raw scores costs histogram arithmetic here at any data size.
    //
    // Parity: TP/FP/FN/TN are exact longs; TPR/FPR/precision are single
    // IEEE divisions of exact ints; the deterministic synthetic score is
    // the eval_report construction (exact 20ths plus an exact 0.35
    // bump — every score a terminating binary-adjacent double both
    // engines parse identically).
    QueryDef(
      "mlprep_roc_curve",
      Some("""WITH base AS (
             |  SELECT CAST(date_trunc('week', ts) AS DATE) AS period,
             |    CASE WHEN value >= 100.0e0 THEN 1 ELSE 0 END AS y,
             |    CAST(event_id % 20 AS DOUBLE) / 20.0e0 +
             |      CASE WHEN value >= 100.0e0 AND event_id % 3 = 0
             |        THEN 0.35e0 ELSE 0.0e0 END AS s
             |  FROM events),
             |hist AS (
             |  SELECT period, s, CAST(count(*) AS BIGINT) AS cnt,
             |    CAST(sum(y) AS BIGINT) AS pos
             |  FROM base GROUP BY 1, 2),
             |cum AS (
             |  SELECT *,
             |    CAST(sum(pos) OVER w AS BIGINT) AS tp,
             |    CAST(sum(cnt - pos) OVER w AS BIGINT) AS fp,
             |    CAST(sum(pos) OVER t AS BIGINT) AS np,
             |    CAST(sum(cnt - pos) OVER t AS BIGINT) AS nn
             |  FROM hist
             |  WINDOW w AS (PARTITION BY period ORDER BY s DESC
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             |  t AS (PARTITION BY period))
             |SELECT period, s AS threshold, tp, fp,
             |  np - tp AS fn, nn - fp AS tn,
             |  CAST(floor(CAST(tp AS DOUBLE) / CAST(NULLIF(np, 0)
             |    AS DOUBLE) * 1.0e9 + 0.5e0) AS BIGINT) AS tpr_q,
             |  CAST(floor(CAST(fp AS DOUBLE) / CAST(NULLIF(nn, 0)
             |    AS DOUBLE) * 1.0e9 + 0.5e0) AS BIGINT) AS fpr_q,
             |  CAST(floor(CAST(tp AS DOUBLE) / CAST(NULLIF(tp + fp, 0)
             |    AS DOUBLE) * 1.0e9 + 0.5e0) AS BIGINT) AS precision_q
             |FROM cum""".stripMargin),
      (s, d) => {
        val base = Tables.events(s, d).select(
          date_trunc("week", col("ts")).cast("date").as("period"),
          when(col("value") >= 100.0, 1L).otherwise(0L).as("y"),
          ((col("event_id") % 20).cast("double") / 20.0 +
            when(col("value") >= 100.0 && col("event_id") % 3 === 0, 0.35)
              .otherwise(0.0)).as("s"))
        val hist = base.groupBy("period", "s")
          .agg(count(lit(1)).as("cnt"), sum("y").as("pos"))
        val w = Window.partitionBy("period").orderBy(col("s").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val t = Window.partitionBy("period")
        val cum = hist
          .withColumn("tp", sum("pos").over(w))
          .withColumn("fp", sum(col("cnt") - col("pos")).over(w))
          .withColumn("np", sum("pos").over(t))
          .withColumn("nn", sum(col("cnt") - col("pos")).over(t))
        def rq(num: Column, den: Column) =
          floor(num.cast("double") / nullif(den, lit(0L)).cast("double")
            * lit(1e9) + lit(0.5)).cast("long")
        cum.select(col("period"), col("s").as("threshold"),
          col("tp"), col("fp"),
          (col("np") - col("tp")).as("fn"),
          (col("nn") - col("fp")).as("tn"),
          rq(col("tp"), col("np")).as("tpr_q"),
          rq(col("fp"), col("nn")).as("fpr_q"),
          rq(col("tp"), col("tp") + col("fp")).as("precision_q"))
      }),

    // LINEAR SHAP — exact Shapley attributions for the OLS model (the
    // shap library's LinearExplainer, closed form: φ_j = b_j·(x_j−μ_j),
    // base value = E[ŷ]): per-row explanations on a deterministic
    // event_id-hash sample plus each group's global mean-|φ| summary
    // (the shap summary-plot number) — computed from the FEATURE
    // HISTOGRAMS, so the global summary costs ≤24+7 rows per group
    // after the one corpus pass, and the sample rows join the model by
    // broadcast. No kernel sampling, no per-row model calls — the
    // linear case is exact and the engine shape shows it.
    //
    // Parity: β/μ from the exact-long moment Cramer trees; each
    // histogram term |b_j|·|x−μ_j| floor-quantizes to 1e-6 BEFORE the
    // count-weighted sum (a raw double Σ over histogram rows would be
    // accumulation-order-dependent), so the summary is one exact long
    // sum and one shared IEEE division; per-row φ quantized at 1e-6.
    QueryDef(
      "mlprep_shap_linear",
      Some {
        val Seq(b0, b1, b2) = oOls()
        def hist(j: Int): String =
          s"""h$j AS (
             |  SELECT f.event_type,
             |    CAST(sum(${oQ(s"abs(b.b$j * (CAST(f.x$j AS DOUBLE) - " +
                    s"b.mu$j))", 6)} * cnt$j) AS BIGINT) AS t$j
             |  FROM (SELECT event_type, x$j, CAST(count(*) AS BIGINT)
             |        AS cnt$j FROM f GROUP BY 1, 2) f
             |  JOIN bm b ON f.event_type = b.event_type GROUP BY 1)"""
            .stripMargin
        s"""WITH f AS (
           |  ${oFeatures("event_id", "event_type")}),
           |m AS (
           |  ${oMomentsBy("f", "event_type")(Ols)}),
           |d AS (
           |  SELECT event_type, n,
           |    ${oDescale(Ols)}
           |  FROM m),
           |bm AS (
           |  SELECT event_type, sn,
           |    $b0 AS b0, $b1 AS b1, $b2 AS b2,
           |    s1 / sn AS mu1, s2 / sn AS mu2
           |  FROM d),
           |${hist(1)},
           |${hist(2)}
           |SELECT f.event_id, f.event_type, f.x1, f.x2,
           |  ${oQ("b.b0 + b.b1 * b.mu1 + b.b2 * b.mu2", 6)} AS base_q,
           |  ${oQ("b.b1 * (CAST(f.x1 AS DOUBLE) - b.mu1)", 6)} AS phi1_q,
           |  ${oQ("b.b2 * (CAST(f.x2 AS DOUBLE) - b.mu2)", 6)} AS phi2_q,
           |  ${oQ("b.b0 + b.b1 * CAST(f.x1 AS DOUBLE) + " +
                  "b.b2 * CAST(f.x2 AS DOUBLE)", 6)} AS pred_q,
           |  ${oQ("CAST(h1.t1 AS DOUBLE) / b.sn", 0)} AS mphi1_q,
           |  ${oQ("CAST(h2.t2 AS DOUBLE) / b.sn", 0)} AS mphi2_q
           |FROM f JOIN bm b ON f.event_type = b.event_type
           |JOIN h1 ON f.event_type = h1.event_type
           |JOIN h2 ON f.event_type = h2.event_type
           |WHERE f.event_id % 97 = 0""".stripMargin
      },
      (s, d) => {
        val f = features(Tables.events(s, d),
            col("event_id"), col("event_type"))
          .persist() // moments + two feature histograms + the sample
        val Seq(b0, b1, b2) = ols()
        val bm = momentsBy(f, "event_type")(Ols)
          .select(col("event_type") +: col("n") +: descale(Ols): _*)
          .select(col("event_type"), col("sn"),
            b0.as("b0"), b1.as("b1"), b2.as("b2"),
            (col("s1") / col("sn")).as("mu1"),
            (col("s2") / col("sn")).as("mu2"))
        def hist(j: Int): DataFrame = f
          .groupBy("event_type", s"x$j")
          .agg(count(lit(1)).as("cnt"))
          .join(broadcast(bm), Seq("event_type"))
          .groupBy("event_type")
          .agg(sum(q(abs(col(s"b$j") *
              (col(s"x$j").cast("double") - col(s"mu$j"))), 6) * col("cnt"))
            .as(s"t$j"))
        f.filter(col("event_id") % 97 === 0)
          .join(broadcast(bm), Seq("event_type"))
          .join(broadcast(hist(1)), Seq("event_type"))
          .join(broadcast(hist(2)), Seq("event_type"))
          .select(col("event_id"), col("event_type"), col("x1"),
            col("x2"),
            q(col("b0") + col("b1") * col("mu1")
              + col("b2") * col("mu2"), 6).as("base_q"),
            q(col("b1") * (col("x1").cast("double") - col("mu1")), 6)
              .as("phi1_q"),
            q(col("b2") * (col("x2").cast("double") - col("mu2")), 6)
              .as("phi2_q"),
            q(col("b0") + col("b1") * col("x1").cast("double")
              + col("b2") * col("x2").cast("double"), 6).as("pred_q"),
            q(col("t1").cast("double") / col("sn"), 0).as("mphi1_q"),
            q(col("t2").cast("double") / col("sn"), 0).as("mphi2_q"))
      }),

    // ELASTIC NET — the L1 half of sklearn's linear zoo (Lasso /
    // ElasticNet; ridge closed the L2 half): cyclic COORDINATE DESCENT,
    // sklearn's own algorithm, run entirely on the CENTERED moment
    // table — 20 fixed sweeps where each coordinate update is a
    // soft-threshold S(ρ_j, λα)/(c_jj/n + λ(1−α)) over scalars derived
    // from the one-pass exact-long moments. The λ grid {0, 0.5, 1e6}
    // (α = 0.5) rides a 3-row explode, so the whole regularization
    // path — including the λ=0 OLS limit and the λ=1e6 all-zero
    // (full-sparsity) limit — costs arithmetic on |groups|×3 rows
    // after ONE corpus scan. sklearn refits per λ; here λ is a column.
    //
    // Parity: the soft threshold is an exact 3-branch CASE (no sign/
    // abs composition), every ρ/denominator a shared IEEE tree off
    // exact moments; each sweep's ρ lands in its OWN projection (the
    // CASE reads it 4×, which pins the projection boundary — the
    // logit/PCA chain precedent); 20 sweeps is a constant, so
    // determinism never depends on a convergence test. Zero slopes are
    // EXACT zeros (the CASE else-branch), so nnz is integer-exact.
    QueryDef(
      "mlprep_elastic_net",
      Some {
        def upd(k: Int, j: Int): String = {
          val (cjy, cjk, cjj, bk) =
            if (j == 1) ("c1y", "c12", "c11", "b2")
            else ("c2y", "c12", "c22", "b1")
          s"""en${k}_$j AS (
             |  SELECT * EXCLUDE (z) REPLACE (
             |    CASE WHEN z > t THEN (z - t) / d$j
             |         WHEN z < -t THEN (z + t) / d$j
             |         ELSE 0.0e0 END AS b$j)
             |  FROM (SELECT *, ($cjy - $cjk * $bk) / sn AS z
             |        FROM ${if (j == 1) s"en${k - 1}_2" else s"en${k}_1"}))"""
            .stripMargin
        }
        val sweeps = (1 to 20).map(k => upd(k, 1) + ",\n" + upd(k, 2))
          .mkString(",\n")
        s"""WITH f AS (
           |  ${oFeatures("event_type")}),
           |m AS (
           |  ${oMomentsBy("f", "event_type")(OlsYy)}),
           |d AS (
           |  SELECT event_type, n,
           |    ${oDescale(OlsYy)}
           |  FROM m),
           |cen AS (
           |  SELECT *,
           |    s11 - s1 * s1 / sn AS c11,
           |    s22 - s2 * s2 / sn AS c22,
           |    s12 - s1 * s2 / sn AS c12,
           |    s1y - s1 * sy / sn AS c1y,
           |    s2y - s2 * sy / sn AS c2y
           |  FROM d),
           |en0_2 AS (
           |  SELECT c.*, g.lam,
           |    g.lam * 0.5e0 AS t,
           |    c11 / sn + g.lam * 0.5e0 AS d1,
           |    c22 / sn + g.lam * 0.5e0 AS d2,
           |    0.0e0 AS b1, 0.0e0 AS b2
           |  FROM cen c, (SELECT unnest([0.0e0, 0.5e0, 1000000.0e0])
           |    AS lam) g),
           |$sweeps,
           |fin AS (
           |  SELECT *, sy / sn - b1 * s1 / sn - b2 * s2 / sn AS b0
           |  FROM en20_2)
           |SELECT event_type, lam, n,
           |  ${oQ("b0", 9)} AS b0_q,
           |  ${oQ("b1", 9)} AS b1_q,
           |  ${oQ("b2", 9)} AS b2_q,
           |  CAST(CASE WHEN b1 <> 0.0e0 THEN 1 ELSE 0 END
           |    + CASE WHEN b2 <> 0.0e0 THEN 1 ELSE 0 END AS BIGINT)
           |    AS nnz,
           |  ${oQ(s"${oSse()} / sn", 6)} AS mse_q
           |FROM fin""".stripMargin
      },
      (s, d) => {
        val f = features(Tables.events(s, d), col("event_type"))
        val cen = momentsBy(f, "event_type")(OlsYy)
          .select(col("event_type") +: col("n") +: descale(OlsYy): _*)
          .withColumn("c11", col("s11") - col("s1") * col("s1") / col("sn"))
          .withColumn("c22", col("s22") - col("s2") * col("s2") / col("sn"))
          .withColumn("c12", col("s12") - col("s1") * col("s2") / col("sn"))
          .withColumn("c1y", col("s1y") - col("s1") * col("sy") / col("sn"))
          .withColumn("c2y", col("s2y") - col("s2") * col("sy") / col("sn"))
        var en = cen
          .withColumn("lam",
            explode(array(lit(0.0), lit(0.5), lit(1000000.0))))
          .withColumn("t", col("lam") * 0.5)
          .withColumn("d1", col("c11") / col("sn") + col("lam") * 0.5)
          .withColumn("d2", col("c22") / col("sn") + col("lam") * 0.5)
          .withColumn("b1", lit(0.0)).withColumn("b2", lit(0.0))
        def soft(dj: String): Column =
          when(col("z") > col("t"), (col("z") - col("t")) / col(dj))
            .when(col("z") < -col("t"), (col("z") + col("t")) / col(dj))
            .otherwise(0.0)
        for (_ <- 1 to 20) {
          en = en.withColumn("z",
              (col("c1y") - col("c12") * col("b2")) / col("sn"))
            .withColumn("b1", soft("d1")).drop("z")
          en = en.withColumn("z",
              (col("c2y") - col("c12") * col("b1")) / col("sn"))
            .withColumn("b2", soft("d2")).drop("z")
        }
        val fin = en.withColumn("b0",
          col("sy") / col("sn") - col("b1") * col("s1") / col("sn")
            - col("b2") * col("s2") / col("sn"))
        fin.select(col("event_type"), col("lam"), col("n"),
          q(col("b0"), 9).as("b0_q"), q(col("b1"), 9).as("b1_q"),
          q(col("b2"), 9).as("b2_q"),
          (when(col("b1") =!= 0.0, 1L).otherwise(0L)
            + when(col("b2") =!= 0.0, 1L).otherwise(0L)).as("nnz"),
          q(sse() / col("sn"), 6).as("mse_q"))
      }),

    // LIFT / CUMULATIVE-GAIN CURVE — the campaign-targeting twin of the
    // ROC row (scikitplot's plot_cumulative_gain / plot_lift_curve):
    // rank by score descending, bucket into deciles, and report each
    // decile's cumulative capture of positives (gain) and its lift over
    // random targeting. Built on the SAME bounded score histogram as
    // mlprep_roc_curve — decile assignment is pure integer arithmetic
    // on the cumulative row count (⌈10·cum/total⌉ by integer DIV, a
    // distinct-score row belongs to the decile of its last element), so
    // no per-row rank ever materializes and ties are handled
    // deterministically by construction.
    //
    // Parity: cum counts exact longs; gain = cum_pos/np and
    // lift = (cum_pos·total)/(np·cum_n) are single IEEE expressions of
    // exact-int casts, floor-quantized at 1e9.
    QueryDef(
      "mlprep_lift_curve",
      Some("""WITH base AS (
             |  SELECT CAST(date_trunc('week', ts) AS DATE) AS period,
             |    CASE WHEN value >= 100.0e0 THEN 1 ELSE 0 END AS y,
             |    CAST(event_id % 20 AS DOUBLE) / 20.0e0 +
             |      CASE WHEN value >= 100.0e0 AND event_id % 3 = 0
             |        THEN 0.35e0 ELSE 0.0e0 END AS s
             |  FROM events),
             |hist AS (
             |  SELECT period, s, CAST(count(*) AS BIGINT) AS cnt,
             |    CAST(sum(y) AS BIGINT) AS pos
             |  FROM base GROUP BY 1, 2),
             |cum AS (
             |  SELECT *,
             |    CAST(sum(cnt) OVER w AS BIGINT) AS cn,
             |    CAST(sum(pos) OVER w AS BIGINT) AS cp,
             |    CAST(sum(cnt) OVER t AS BIGINT) AS total,
             |    CAST(sum(pos) OVER t AS BIGINT) AS np
             |  FROM hist
             |  WINDOW w AS (PARTITION BY period ORDER BY s DESC
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             |  t AS (PARTITION BY period)),
             |dec AS (
             |  SELECT *, (cn * 10 + total - 1) // total AS decile
             |  FROM cum)
             |SELECT period, CAST(decile AS BIGINT) AS decile,
             |  CAST(sum(cnt) AS BIGINT) AS n,
             |  CAST(sum(pos) AS BIGINT) AS pos,
             |  CAST(max(cn) AS BIGINT) AS cum_n,
             |  CAST(max(cp) AS BIGINT) AS cum_pos,
             |  CAST(floor(CAST(max(cp) AS DOUBLE) / CAST(NULLIF(max(np), 0)
             |    AS DOUBLE) * 1.0e9 + 0.5e0) AS BIGINT) AS gain_q,
             |  CAST(floor(CAST(max(cp) AS DOUBLE) * CAST(max(total)
             |      AS DOUBLE)
             |    / (CAST(NULLIF(max(np), 0) AS DOUBLE)
             |      * CAST(max(cn) AS DOUBLE)) * 1.0e9 + 0.5e0)
             |    AS BIGINT) AS lift_q
             |FROM dec GROUP BY 1, 2""".stripMargin),
      (s, d) => {
        val base = Tables.events(s, d).select(
          date_trunc("week", col("ts")).cast("date").as("period"),
          when(col("value") >= 100.0, 1L).otherwise(0L).as("y"),
          ((col("event_id") % 20).cast("double") / 20.0 +
            when(col("value") >= 100.0 && col("event_id") % 3 === 0, 0.35)
              .otherwise(0.0)).as("s"))
        val hist = base.groupBy("period", "s")
          .agg(count(lit(1)).as("cnt"), sum("y").as("pos"))
        val w = Window.partitionBy("period").orderBy(col("s").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val t = Window.partitionBy("period")
        val dec = hist
          .withColumn("cn", sum("cnt").over(w))
          .withColumn("cp", sum("pos").over(w))
          .withColumn("total", sum("cnt").over(t))
          .withColumn("np", sum("pos").over(t))
          .withColumn("decile", expr("(cn * 10 + total - 1) DIV total"))
        dec.groupBy("period", "decile").agg(
            sum("cnt").as("n"), sum("pos").as("pos"),
            max("cn").as("cum_n"), max("cp").as("cum_pos"),
            max("np").as("np0"), max("total").as("total0"))
          .select(col("period"), col("decile"), col("n"), col("pos"),
            col("cum_n"), col("cum_pos"),
            floor(col("cum_pos").cast("double") /
              nullif(col("np0"), lit(0L)).cast("double") * lit(1e9)
              + lit(0.5)).cast("long").as("gain_q"),
            floor(col("cum_pos").cast("double") *
              col("total0").cast("double") /
              (nullif(col("np0"), lit(0L)).cast("double") *
                col("cum_n").cast("double")) * lit(1e9) + lit(0.5))
              .cast("long").as("lift_q"))
      }),

    // PERMUTATION IMPORTANCE — sklearn's model-agnostic
    // `permutation_importance` (the diagnostic the reference prints
    // beside feature_importances_): score drop when ONE feature's
    // column is permuted against the others with the fitted model held
    // fixed. The permutation is a deterministic CYCLIC SHIFT within
    // each group (lag over event_id order, first row wraps to the
    // group's last) — a true permutation, reproducible cross-engine,
    // where numpy's shuffle seed would not be. The key algebra: a
    // permutation preserves each column's own moments (Σx, Σx²), so
    // only the CROSS moments (Σxᵖ·y, Σxᵖ·x_other) change — one
    // windowed pass computes both permuted cross-moment pairs, and
    // baseline + both permuted MSEs evaluate from the same quadratic
    // form with terms substituted. One data-sized sort-window, one
    // aggregate, arithmetic after.
    //
    // Parity: the shift is exact (event_id unique); all moments exact
    // longs on the lq grid; β and every MSE share the walk_forward
    // IEEE trees; output quantized in value units at 1e6.
    QueryDef(
      "mlprep_permutation_importance",
      Some {
        val Seq(b0, b1, b2) = oOls()
        s"""WITH f AS (
           |  ${oFeatures("event_type", "event_id")}),
           |p AS (
           |  SELECT *,
           |    COALESCE(lag(x1) OVER w, last_value(x1) OVER wf) AS x1p,
           |    COALESCE(lag(x2) OVER w, last_value(x2) OVER wf) AS x2p
           |  FROM f
           |  WINDOW w AS (PARTITION BY event_type ORDER BY event_id),
           |    wf AS (PARTITION BY event_type ORDER BY event_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING
           |      AND UNBOUNDED FOLLOWING)),
           |m AS (
           |  ${oMomentsBy("p", "event_type")(PermMoments)}),
           |d AS (
           |  SELECT event_type, n,
           |    ${oDescale(PermMoments)}
           |  FROM m),
           |b AS (
           |  SELECT *, $b0 AS b0, $b1 AS b1, $b2 AS b2
           |  FROM d),
           |sc AS (
           |  SELECT event_type, n,
           |    ${oSse()} / sn AS mse0,
           |    ${oSse(m = Perm1)} / sn AS mse1,
           |    ${oSse(m = Perm2)} / sn AS mse2
           |  FROM b)
           |SELECT event_type, n, CAST(feat AS BIGINT) AS feature,
           |  ${oQ("mse0", 6)} AS mse_base_q,
           |  ${oQ("CASE WHEN feat = 1 THEN mse1 ELSE mse2 END", 6)}
           |    AS mse_perm_q,
           |  ${oQ("CASE WHEN feat = 1 THEN mse1 ELSE mse2 END - mse0", 6)}
           |    AS delta_q
           |FROM sc, (SELECT unnest([1, 2]) AS feat)""".stripMargin
      },
      (s, d) => {
        val f = features(Tables.events(s, d),
          col("event_type"), col("event_id"))
        val w = Window.partitionBy("event_type").orderBy("event_id")
        val wf = w.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)
        val p = f
          .withColumn("x1p", coalesce(lag("x1", 1).over(w),
            last("x1").over(wf)))
          .withColumn("x2p", coalesce(lag("x2", 1).over(w),
            last("x2").over(wf)))
        val Seq(b0, b1, b2) = ols()
        val b = momentsBy(p, "event_type")(PermMoments)
          .select(col("event_type") +: col("n") +: descale(PermMoments): _*)
          .withColumn("b0", b0).withColumn("b1", b1).withColumn("b2", b2)
        val sc = b.select(col("event_type"), col("n"),
          (sse() / col("sn")).as("mse0"),
          (sse(m = Perm1) / col("sn")).as("mse1"),
          (sse(m = Perm2) / col("sn")).as("mse2"))
        val perm = when(col("feature") === 1L, col("mse1"))
          .otherwise(col("mse2"))
        sc.select(col("event_type"), col("n"),
            explode(array(lit(1L), lit(2L))).as("feature"),
            col("mse0"), col("mse1"), col("mse2"))
          .select(col("event_type"), col("n"), col("feature"),
            q(col("mse0"), 6).as("mse_base_q"),
            q(perm, 6).as("mse_perm_q"),
            q(perm - col("mse0"), 6).as("delta_q"))
      }),

    // Leakage-safe K-fold TARGET ENCODING: each row's category is encoded
    // by the target mean computed over the OTHER folds only (out-of-fold —
    // the standard defense against the target leaking into its own
    // feature; a plain category mean would let every row see its own
    // label). Folds are deterministic portable hashes of the row id.
    //
    // Scale shape: ONE data-sized hash aggregate to the (category × fold)
    // cell table; the out-of-fold sums are windows over that BOUNDED table
    // (|cats|·K rows); rows re-join the encoding through a broadcast of
    // the tiny dim. The empty-out-of-fold fallback (a category seen only
    // in the row's own fold) backs off to the global out-of-fold mean —
    // same leakage guarantee.
    //
    // Parity: the data-sized sum rides the lq long path (exact hundredths,
    // order-free); the out-of-fold means de-scale once in one identical
    // subtract → double-divide tree on both engines.
    QueryDef(
      "mlprep_target_encode",
      Some(s"""WITH r AS (
             |  SELECT event_id, event_type, value,
             |    CAST(CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)),
             |      1, 8) AS BIGINT) % 5 AS INT) AS fold
             |  FROM events),
             |cf AS (
             |  SELECT event_type, fold,
             |    SUM(${graft.Parity.oLq("value")}) AS s, count(*) AS n
             |  FROM r GROUP BY 1, 2),
             |dim AS (
             |  SELECT event_type, fold,
             |    sum(s) OVER (PARTITION BY event_type) - s AS s_c,
             |    sum(n) OVER (PARTITION BY event_type) - n AS n_c,
             |    sum(s) OVER () - sum(s) OVER (PARTITION BY fold) AS s_g,
             |    sum(n) OVER () - sum(n) OVER (PARTITION BY fold) AS n_g
             |  FROM cf)
             |SELECT r.event_id, r.event_type, r.fold,
             |  CASE WHEN d.n_c > 0
             |    THEN CAST(d.s_c AS DOUBLE) / CAST(d.n_c AS DOUBLE) / 100.0
             |    ELSE CAST(d.s_g AS DOUBLE) / CAST(d.n_g AS DOUBLE) / 100.0
             |  END AS te
             |FROM r JOIN dim d
             |  ON r.event_type = d.event_type AND r.fold = d.fold"""
        .stripMargin),
      (s, d) => {
        import graft.operators.TextOps.hash32
        val folds = 5
        val rows = Tables.events(s, d)
          .select(col("event_id"), col("event_type"), col("value"),
            (hash32(col("event_id").cast("string")) % folds)
              .cast("int").as("fold"))
        val cf = rows.groupBy("event_type", "fold")
          .agg(sum(graft.Parity.lq(col("value"))).as("s"),
               count(lit(1)).as("n"))
        val wCat = Window.partitionBy("event_type")
        val wFold = Window.partitionBy("fold")
        val wAll = Window.partitionBy()
        val dim = cf.select(col("event_type"), col("fold"),
          (sum("s").over(wCat) - col("s")).as("s_c"),
          (sum("n").over(wCat) - col("n")).as("n_c"),
          (sum("s").over(wAll) - sum("s").over(wFold)).as("s_g"),
          (sum("n").over(wAll) - sum("n").over(wFold)).as("n_g"))
        rows.join(broadcast(dim), Seq("event_type", "fold"))
          .select(col("event_id"), col("event_type"), col("fold"),
            when(col("n_c") > 0,
              col("s_c").cast("double") / col("n_c").cast("double") / 100.0)
              .otherwise(col("s_g").cast("double") /
                col("n_g").cast("double") / 100.0)
              .as("te"))
      }),

    // Leakage-safe QUANTILE TRANSFORM — each value mapped to the TRAIN
    // distribution's CDF (sklearn QuantileTransformer fit on train,
    // applied to all): q(v) = |{train ≤ v}| / n_train. Fit is
    // histogram-first on the cent grid (one hash aggregate + a cumulative
    // window over the BOUNDED histogram — the mlprep_binning pattern);
    // the transform joins the broadcast histogram dim by exact cent
    // value, with test-only values (absent from the train histogram)
    // taking the largest train cent ≤ v via a small range join on the
    // bounded dim. Counts are exact longs; q is one final division.
    QueryDef(
      "mlprep_quantile_transform",
      Some("""WITH ev AS (
             |  SELECT event_id, CAST(ts AS DATE) AS day, value,
             |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS vc
             |  FROM events),
             |c AS (
             |  SELECT CAST(max(day) - INTERVAL 7 DAY AS DATE) AS cutoff
             |  FROM ev),
             |h AS (
             |  SELECT vc, count(*) AS cnt
             |  FROM ev, c WHERE ev.day < c.cutoff GROUP BY 1),
             |cm AS (
             |  SELECT vc,
             |    sum(cnt) OVER (ORDER BY vc
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS cum,
             |    sum(cnt) OVER () AS n_train
             |  FROM h)
             |SELECT ev.event_id, ev.day, ev.value,
             |  CASE WHEN ev.day < c.cutoff THEN 'train' ELSE 'test' END
             |    AS role,
             |  coalesce(CAST((
             |    SELECT max_by(cm.cum, cm.vc) FROM cm WHERE cm.vc <= ev.vc
             |  ) AS DOUBLE) / CAST((SELECT min(n_train) FROM cm)
             |    AS DOUBLE), 0.0) AS q
             |FROM ev, c""".stripMargin),
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("event_id"), to_date(col("ts")).as("day"),
            col("value"),
            floor(col("value") * 100.0 + 0.5).cast("long").as("vc"))
          .persist() // cutoff + fit aggregates + the transform scan
        val cutoff = ev.agg(date_sub(max("day"), 7).as("cutoff"))
        val cumW = Window.orderBy("vc")
          .rowsBetween(Window.unboundedPreceding, 0)
        val allW = Window.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)
        // bounded-domain histogram (cent values — same contract as
        // histogramMedian); the window runs over the histogram only
        val cm = ev.crossJoin(broadcast(cutoff))
          .filter(col("day") < col("cutoff"))
          .groupBy("vc").agg(count(lit(1)).as("cnt"))
          .withColumn("cum", sum("cnt").over(cumW))
          .withColumn("n_train", sum("cnt").over(allW))
          .select(col("vc").as("tvc"), col("cum"), col("n_train"))
        // step lookup: the largest train cent ≤ v. NOT a range join — a
        // θ-join of data against even a broadcast histogram is
        // O(data × histogram) (measured 33s at sf0.1's cent domain).
        // Instead: union the train cents with the data's DISTINCT cents
        // (both bounded by the cent domain), forward-fill the cumulative
        // count over that ordered frame (histogram-sized single-partition
        // window — the histogramMedian contract), and the result is an
        // exact per-cent lookup table the data equi-joins by broadcast.
        // Hist rows sort before data probes at the same cent (src 0 < 1),
        // so ties resolve inclusively (tvc ≤ vc). Values below every
        // train cent fill nothing → q = 0.
        val nTrain = cm.agg(min("n_train").as("n_train"))
        val probes = ev.select(col("vc").as("gvc")).distinct()
          .select(col("gvc"), lit(null).cast("long").as("cum"),
            lit(1).as("src"))
        val wFill = Window.orderBy("gvc", "src")
          .rowsBetween(Window.unboundedPreceding, 0)
        val lut = cm.select(col("tvc").as("gvc"), col("cum"),
            lit(0).as("src"))
          .union(probes)
          .withColumn("cum_f", last("cum", ignoreNulls = true).over(wFill))
          .filter(col("src") === 1)
          .select(col("gvc").as("vc"), col("cum_f"))
        ev.crossJoin(broadcast(cutoff)).crossJoin(broadcast(nTrain))
          .join(broadcast(lut), Seq("vc"), "left")
          .select(col("event_id"), col("day"), col("value"),
            when(col("day") < col("cutoff"), "train").otherwise("test")
              .as("role"),
            coalesce(col("cum_f").cast("double") /
              col("n_train").cast("double"), lit(0.0)).as("q"))
      }),

    // CLASS BALANCE: per-class downsampling to the minority-class count —
    // the standard rebalance step before training a classifier on skewed
    // labels (each class keeps exactly min-class-count rows, so the
    // balanced set is class-uniform by construction). Deterministic at
    // any parallelism: the per-class keep set is the first m rows in
    // portable-hash order (seeded, tie-broken by the unique vec_id), not
    // a seeded RNG whose draw order would depend on partitioning. The
    // rank window partitions by label (bounded per class); the 1-row
    // minority count broadcasts — no driver-side collect.
    QueryDef(
      "mlprep_class_balance",
      Some {
        val h = graft.operators.TextOps
          .oHash32("'cb:' || CAST(vec_id AS VARCHAR)")
        s"""WITH c AS (
           |  SELECT CAST(min(cnt) AS BIGINT) AS m FROM (
           |    SELECT count(*) AS cnt FROM embeddings GROUP BY label)),
           |r AS (
           |  SELECT vec_id, label, $h AS u,
           |    row_number() OVER (PARTITION BY label
           |      ORDER BY $h, vec_id) AS rn
           |  FROM embeddings)
           |SELECT r.vec_id, CAST(r.label AS BIGINT) AS label
           |FROM r CROSS JOIN c WHERE r.rn <= c.m""".stripMargin
      },
      (s, d) => {
        import graft.operators.TextOps.hash32
        val emb = Tables.embeddings(s, d)
        val m = broadcast(emb.groupBy("label")
          .agg(count(lit(1)).as("cnt")).agg(min("cnt").as("m")))
        val u = hash32(concat(lit("cb:"), col("vec_id").cast("string")))
        val w = Window.partitionBy("label").orderBy(u, col("vec_id"))
        emb.select(col("vec_id"), col("label"))
          .withColumn("rn", row_number().over(w))
          .crossJoin(m)
          .filter(col("rn") <= col("m"))
          .select(col("vec_id"), col("label").cast("long").as("label"))
      }),

    // EVAL REPORT: per-period classification metrics — precision/recall/F1
    // per class plus tie-aware ROC AUC — the distributed half of the
    // reference's month-by-month model evaluation loop
    // (my_model.py:567-651 `evaluate_all_models_monthly`: pandas loop per
    // (model, year, month) over precision_recall_fscore_support +
    // roc_auc_score). The model itself is out of engine scope; the score
    // column here is a deterministic stand-in, and every metric downstream
    // of (label, score) is computed exactly.
    //
    // Scale shape — the part worth copying at 100 TB: AUC is the
    // Mann-Whitney rank-sum, but NO per-row ranking window ever runs.
    // Scores are histogrammed per (period, score) first (one hash
    // aggregate over the data — the only full-data pass), and ranks,
    // tie-counts, confusion cells, and the rank-sum all derive from the
    // HISTOGRAM (periods × score-domain rows, KBs): min-rank = cumulative
    // count + 1, a tied block of size c contributes pos·(2·cum + c + 1)
    // to twice the positive rank-sum. Works for any bounded/quantized
    // score domain — which at scale a model score is made to be (quantize
    // to 1e-4 first, exactly how large-scale AUC jobs do it). The
    // fixture's one-month span makes "monthly" degenerate, so the period
    // is the ISO week — the operator is granularity-parametric.
    //
    // Tie correctness is load-bearing: scores collide ACROSS classes by
    // construction (label-1 rows keep their base score unless
    // event_id%3=0), so a naive row_number AUC would be nondeterministic
    // and wrong; the average-rank algebra here is exact (asserted
    // non-vacuously in-query).
    QueryDef(
      "mlprep_eval_report",
      Some("""WITH base AS (
             |  SELECT CAST(date_trunc('week', ts) AS DATE) AS period,
             |    CASE WHEN value >= 100.0e0 THEN 1 ELSE 0 END AS y,
             |    CAST(event_id % 20 AS DOUBLE) / 20.0e0 +
             |      CASE WHEN value >= 100.0e0 AND event_id % 3 = 0
             |        THEN 0.35e0 ELSE 0.0e0 END AS s
             |  FROM events),
             |hist AS (
             |  SELECT period, s, count(*) AS cnt, sum(y) AS pos
             |  FROM base GROUP BY 1, 2),
             |h2 AS (
             |  SELECT *, COALESCE(SUM(cnt) OVER (PARTITION BY period
             |    ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND
             |    1 PRECEDING), 0) AS cum
             |  FROM hist),
             |agg AS (
             |  SELECT period,
             |    CAST(SUM(cnt) AS BIGINT) AS n,
             |    CAST(SUM(CASE WHEN s >= 0.5e0 THEN pos ELSE 0 END)
             |      AS BIGINT) AS tp,
             |    CAST(SUM(CASE WHEN s >= 0.5e0 THEN cnt - pos ELSE 0 END)
             |      AS BIGINT) AS fp,
             |    CAST(SUM(CASE WHEN s < 0.5e0 THEN pos ELSE 0 END)
             |      AS BIGINT) AS fn,
             |    CAST(SUM(CASE WHEN s < 0.5e0 THEN cnt - pos ELSE 0 END)
             |      AS BIGINT) AS tn,
             |    CAST(SUM(pos * (2 * cum + cnt + 1)) AS BIGINT) AS r2pos,
             |    CAST(SUM(pos) AS BIGINT) AS np,
             |    CAST(SUM(cnt - pos) AS BIGINT) AS nn
             |  FROM h2 GROUP BY 1),
             |m AS (
             |  SELECT *,
             |    CASE WHEN tp + fp = 0 THEN 0.0e0
             |      ELSE CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE)
             |    END AS p1,
             |    CASE WHEN tp + fn = 0 THEN 0.0e0
             |      ELSE CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE)
             |    END AS r1,
             |    CASE WHEN tn + fn = 0 THEN 0.0e0
             |      ELSE CAST(tn AS DOUBLE) / CAST(tn + fn AS DOUBLE)
             |    END AS p0,
             |    CASE WHEN tn + fp = 0 THEN 0.0e0
             |      ELSE CAST(tn AS DOUBLE) / CAST(tn + fp AS DOUBLE)
             |    END AS r0
             |  FROM agg)
             |SELECT period, n, tp, fp, fn, tn,
             |  CAST(floor(p1 * 1e9 + 0.5e0) AS BIGINT) AS p1_q,
             |  CAST(floor(r1 * 1e9 + 0.5e0) AS BIGINT) AS r1_q,
             |  CAST(floor((CASE WHEN p1 + r1 = 0.0e0 THEN 0.0e0
             |    ELSE 2.0e0 * p1 * r1 / (p1 + r1) END) * 1e9 + 0.5e0)
             |    AS BIGINT) AS f1_1_q,
             |  CAST(floor(p0 * 1e9 + 0.5e0) AS BIGINT) AS p0_q,
             |  CAST(floor(r0 * 1e9 + 0.5e0) AS BIGINT) AS r0_q,
             |  CAST(floor((CASE WHEN p0 + r0 = 0.0e0 THEN 0.0e0
             |    ELSE 2.0e0 * p0 * r0 / (p0 + r0) END) * 1e9 + 0.5e0)
             |    AS BIGINT) AS f1_0_q,
             |  CAST(floor((CASE WHEN np = 0 OR nn = 0 THEN 0.0e0
             |    ELSE CAST(r2pos - np * (np + 1) AS DOUBLE) /
             |      (2.0e0 * CAST(np AS DOUBLE) * CAST(nn AS DOUBLE))
             |    END) * 1e9 + 0.5e0) AS BIGINT) AS auc_q
             |FROM m""".stripMargin),
      (s, d) => {
        val base = Tables.events(s, d).select(
          date_trunc("week", col("ts")).cast("date").as("period"),
          when(col("value") >= 100.0, 1L).otherwise(0L).as("y"),
          ((col("event_id") % 20).cast("double") / 20.0 +
            when(col("value") >= 100.0 && col("event_id") % 3 === 0,
              0.35).otherwise(0.0)).as("s"))
        val hist = base.groupBy("period", "s")
          .agg(count(lit(1)).as("cnt"), sum("y").as("pos"))
        val wCum = Window.partitionBy("period").orderBy("s")
          .rowsBetween(Window.unboundedPreceding, -1)
        val h2 = hist.withColumn("cum",
          coalesce(sum("cnt").over(wCum), lit(0L)))
        val agg = h2.groupBy("period").agg(
          sum("cnt").as("n"),
          sum(when(col("s") >= 0.5, col("pos")).otherwise(0L)).as("tp"),
          sum(when(col("s") >= 0.5, col("cnt") - col("pos"))
            .otherwise(0L)).as("fp"),
          sum(when(col("s") < 0.5, col("pos")).otherwise(0L)).as("fn"),
          sum(when(col("s") < 0.5, col("cnt") - col("pos"))
            .otherwise(0L)).as("tn"),
          sum(col("pos") * (lit(2L) * col("cum") + col("cnt") + lit(1L)))
            .as("r2pos"),
          sum("pos").as("np"),
          sum(col("cnt") - col("pos")).as("nn"))
        // non-vacuity: cross-class score ties must exist, or the
        // average-rank algebra this row exists to verify went untested
        val mixed = h2.filter(col("pos") > 0 && col("pos") < col("cnt"))
          .limit(1).count()
        require(mixed > 0,
          "eval_report: no score bucket mixes classes — tie handling " +
            "is untested, proof is vacuous")
        def ratio(num: Column, den: Column): Column =
          when(den === 0, 0.0).otherwise(num.cast("double") /
            den.cast("double"))
        val p1 = ratio(col("tp"), col("tp") + col("fp"))
        val r1 = ratio(col("tp"), col("tp") + col("fn"))
        val p0 = ratio(col("tn"), col("tn") + col("fn"))
        val r0 = ratio(col("tn"), col("tn") + col("fp"))
        def f1(p: Column, r: Column): Column =
          when(p + r === 0.0, 0.0)
            .otherwise(lit(2.0) * p * r / (p + r))
        val auc = when(col("np") === 0 || col("nn") === 0, 0.0)
          .otherwise(
            (col("r2pos") - col("np") * (col("np") + lit(1L)))
              .cast("double") /
            (lit(2.0) * col("np").cast("double") * col("nn").cast("double")))
        agg.select(col("period"), col("n"), col("tp"), col("fp"),
          col("fn"), col("tn"),
          q(p1, 9).as("p1_q"), q(r1, 9).as("r1_q"),
          q(f1(p1, r1), 9).as("f1_1_q"),
          q(p0, 9).as("p0_q"), q(r0, 9).as("r0_q"),
          q(f1(p0, r0), 9).as("f1_0_q"),
          q(auc, 9).as("auc_q"))
      }),

    // CALIBRATION: the reliability diagram next to eval_report's
    // rank/threshold metrics — is a score of 0.7 actually right 70% of
    // the time? Scores bucket into 10 fixed-width bins (clipped at the
    // top — the synthetic score reaches 1.3); each bin reports count,
    // mean predicted score, empirical positive rate, the calibration gap
    // |mean_pred − frac_pos|, and the bin's Brier contribution.
    //
    // Scale shape: ONE hash aggregate over (bin) — 10 cells regardless
    // of data size, map-side combinable; no window, no join.
    //
    // Parity: the score is a multiple of 0.01 by construction, so
    // s_q = floor(s·100 + 0.5) makes every bin sum exact long
    // arithmetic — mean/rate/gap/Brier then derive through one
    // identical IEEE tree, reported 1e9-quantized (the eval_report
    // pattern).
    QueryDef(
      "mlprep_calibration",
      Some("""WITH base AS (
             |  SELECT CASE WHEN value >= 100.0e0 THEN 1 ELSE 0 END AS y,
             |    CAST(event_id % 20 AS DOUBLE) / 20.0e0 +
             |      CASE WHEN value >= 100.0e0 AND event_id % 3 = 0
             |        THEN 0.35e0 ELSE 0.0e0 END AS s
             |  FROM events),
             |q AS (
             |  SELECT y, CAST(floor(s * 100.0e0 + 0.5e0) AS BIGINT) AS sq,
             |    least(CAST(floor(s * 10.0e0) AS BIGINT), 9) AS bin
             |  FROM base),
             |b AS (
             |  SELECT bin, CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(sq) AS BIGINT) AS ssq,
             |    CAST(sum(y) AS BIGINT) AS pos,
             |    CAST(sum((sq - 100 * y) * (sq - 100 * y)) AS BIGINT)
             |      AS sse
             |  FROM q GROUP BY bin),
             |m AS (
             |  SELECT bin, n,
             |    CAST(ssq AS DOUBLE) / CAST(n AS DOUBLE) / 100.0e0
             |      AS mean_pred,
             |    CAST(pos AS DOUBLE) / CAST(n AS DOUBLE) AS frac_pos,
             |    CAST(sse AS DOUBLE) / CAST(n AS DOUBLE) / 10000.0e0
             |      AS brier
             |  FROM b)
             |SELECT bin, n,
             |  CAST(floor(mean_pred * 1e9 + 0.5e0) AS BIGINT)
             |    AS mean_pred_q,
             |  CAST(floor(frac_pos * 1e9 + 0.5e0) AS BIGINT)
             |    AS frac_pos_q,
             |  CAST(floor(abs(mean_pred - frac_pos) * 1e9 + 0.5e0)
             |    AS BIGINT) AS gap_q,
             |  CAST(floor(brier * 1e9 + 0.5e0) AS BIGINT) AS brier_q
             |FROM m""".stripMargin),
      (s, d) => {
        val base = Tables.events(s, d).select(
          when(col("value") >= 100.0, 1L).otherwise(0L).as("y"),
          ((col("event_id") % 20).cast("double") / 20.0 +
            when(col("value") >= 100.0 && col("event_id") % 3 === 0,
              0.35).otherwise(0.0)).as("s"))
        val b = base.select(col("y"),
            floor(col("s") * 100.0 + 0.5).cast("long").as("sq"),
            least(floor(col("s") * 10.0).cast("long"), lit(9L)).as("bin"))
          .groupBy("bin").agg(
            count(lit(1)).as("n"), sum("sq").as("ssq"),
            sum("y").as("pos"),
            sum((col("sq") - lit(100L) * col("y")) *
              (col("sq") - lit(100L) * col("y"))).as("sse"))
        val meanPred = col("ssq").cast("double") /
          col("n").cast("double") / 100.0
        val fracPos = col("pos").cast("double") / col("n").cast("double")
        val brier = col("sse").cast("double") /
          col("n").cast("double") / 10000.0
        b.select(col("bin"), col("n"),
          q(meanPred, 9).as("mean_pred_q"), q(fracPos, 9).as("frac_pos_q"),
          q(abs(meanPred - fracPos), 9).as("gap_q"),
          q(brier, 9).as("brier_q"))
      }),

    // PSI feature-drift audit: Population Stability Index of `value`
    // between the chronological train/test split, over TRAIN-decile bins
    // (the fit/transform asymmetry every serving-drift monitor uses: bin
    // edges come from the reference population only). PSI_i =
    // (p_test − p_train)·ln(p_test/p_train), Laplace-smoothed
    // ((cnt+0.5)/(n+5) for 10 bins) so an empty bin stays finite; industry
    // reading: Σ < 0.1 stable, > 0.25 drifted.
    //
    // Scale shape: decile edges ride mlprep_binning's machinery — the
    // hundredths-grid histogram (bounded by distinct values, not rows),
    // one sorted cumulative pass, edges broadcast back; binning is then a
    // per-row CASE and the PSI table is ONE 10-cell hash-agg with the
    // totals broadcast onto it. Parity: counts exact longs, smoothed
    // ratios identical IEEE trees, the one transcendental (ln) floor-
    // quantized to a long at 1e9 (lrq doctrine), PSI emitted at 1e9.
    QueryDef(
      "mlprep_psi_drift",
      Some(s"""WITH ev AS (
             |  SELECT CAST(ts AS DATE) AS day, value FROM events),
             |${oTrainEdges((1 to 9).map(i =>
                  s"${HistogramWalk.oCentQuantile(i * 10)} AS e$i"): _*)},
             |binned AS (
             |  SELECT CASE WHEN day < cutoff THEN 1 ELSE 0 END AS is_train,
             |    CAST(CASE WHEN value <= e1 THEN 0 WHEN value <= e2 THEN 1
             |      WHEN value <= e3 THEN 2 WHEN value <= e4 THEN 3
             |      WHEN value <= e5 THEN 4 WHEN value <= e6 THEN 5
             |      WHEN value <= e7 THEN 6 WHEN value <= e8 THEN 7
             |      WHEN value <= e9 THEN 8 ELSE 9 END AS BIGINT) AS bin
             |  FROM ev, c, e),
             |counts AS (
             |  SELECT bin,
             |    CAST(count(CASE WHEN is_train = 1 THEN 1 END) AS BIGINT)
             |      AS n_train,
             |    CAST(count(CASE WHEN is_train = 0 THEN 1 END) AS BIGINT)
             |      AS n_test
             |  FROM binned GROUP BY bin),
             |tot AS (
             |  SELECT CAST(sum(n_train) AS BIGINT) AS t_train,
             |    CAST(sum(n_test) AS BIGINT) AS t_test
             |  FROM counts)
             |SELECT bin, n_train, n_test,
             |  CAST(floor(
             |    ((CAST(n_test AS DOUBLE) + 0.5e0) / (CAST(t_test AS DOUBLE) + 5.0e0) -
             |     (CAST(n_train AS DOUBLE) + 0.5e0) / (CAST(t_train AS DOUBLE) + 5.0e0)) *
             |    (CAST(floor(ln(
             |      ((CAST(n_test AS DOUBLE) + 0.5e0) / (CAST(t_test AS DOUBLE) + 5.0e0)) /
             |      ((CAST(n_train AS DOUBLE) + 0.5e0) / (CAST(t_train AS DOUBLE) + 5.0e0))
             |    ) * 1.0e9 + 0.5e0) AS BIGINT) / 1.0e9)
             |    * 1.0e9 + 0.5e0) AS BIGINT) AS psi_q
             |FROM counts, tot""".stripMargin),
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(to_date(col("ts")).as("day"), col("value"))
          .persist() // cutoff + decile-fit aggregates + the binning scan
        val (cutoff, edges) = trainEdges(ev, "mlprep_psi_drift")(
          (1 to 9).map(i =>
            s"e$i" -> HistogramWalk.centQuantile(i * 10)): _*)
        val bin = (1 to 9).foldLeft(when(col("value") <= col("e1"), 0L)) {
          case (acc, i) if i > 1 => acc.when(col("value") <= col(s"e$i"), i - 1L)
          case (acc, _) => acc
        }.otherwise(9L)
        val counts = ev.crossJoin(broadcast(cutoff)).crossJoin(broadcast(edges))
          .select(when(col("day") < col("cutoff"), 1).otherwise(0)
            .as("is_train"), bin.as("bin"))
          .groupBy("bin")
          .agg(count(when(col("is_train") === 1, 1)).as("n_train"),
               count(when(col("is_train") === 0, 1)).as("n_test"))
        val tot = counts.agg(sum("n_train").as("t_train"),
          sum("n_test").as("t_test"))
        val pTr = (col("n_train").cast("double") + lit(0.5)) /
          (col("t_train").cast("double") + lit(5.0))
        val pTe = (col("n_test").cast("double") + lit(0.5)) /
          (col("t_test").cast("double") + lit(5.0))
        val lr = floor(log(pTe / pTr) * lit(1e9) + lit(0.5))
          .cast("long").cast("double") / lit(1e9)
        counts.crossJoin(broadcast(tot))
          .select(col("bin"), col("n_train"), col("n_test"),
            floor((pTe - pTr) * lr * lit(1e9) + lit(0.5)).cast("long")
              .as("psi_q"))
      }),

    // Closed-form distributed OLS — value ~ a + b1·hour + b2·dow fit per
    // event_type from SUFFICIENT STATISTICS: one hash-aggregate collects
    // the nine moment sums, the normal equations solve by Cramer's rule
    // on the driver-free 5-row result. This is the "train linear models
    // in one pass" pattern — at 100 TB the only data-sized work is the
    // map-side-combinable aggregate; the solve is per-group scalar math.
    //
    // Parity: features are small exact ints (hour 0-23, dow 1-7), the
    // target rides the lq hundredths grid, so every moment sum is an
    // exact long; the 3×3 determinants are ONE identical IEEE tree on
    // both engines (LinearFit.cramer3 and its oracle twin), and the
    // coefficients are floor-quantized at 1e9.
    QueryDef(
      "mlprep_ols_normal",
      Some(s"""WITH f AS (
              |  ${oFeatures("event_type")}),
              |${oFitOls("f", 1)}
              |SELECT event_type, n_train AS n,
              |  ${oQ("b0", 9)} AS intercept_q,
              |  ${oQ("b1", 9)} AS b_hour_q,
              |  ${oQ("b2", 9)} AS b_dow_q
              |FROM bb1""".stripMargin),
      (s, d) =>
        fitOls(Tables.events(s, d))
          .select(col("event_type"), col("n_train").as("n"),
            q(col("b0"), 9).as("intercept_q"),
            q(col("b1"), 9).as("b_hour_q"),
            q(col("b2"), 9).as("b_dow_q"))),

    // RIDGE REGRESSION from the same sufficient statistics — the
    // regularized twin of mlprep_ols_normal: (XᵀX + λI)β = Xᵀy with the
    // intercept UNPENALIZED (the standard convention — shrinking the
    // mean is a modeling bug), i.e. λ adds only to the slope diagonal
    // (s11, s22). Closed-form Cramer solve at λ = 0 (OLS), 10³, 10⁵ in
    // ONE pass over the one hash-agg of exact-long moments — the
    // regularization path costs arithmetic on the 5-row stats table,
    // never a second scan. λ and the moments are exact, so every
    // coefficient is one identical IEEE tree on both engines; the
    // monotone slope shrinkage toward 0 across the path is visible in
    // the row itself.
    QueryDef(
      "mlprep_ridge",
      Some {
        def coefs(lam: String, suffix: String): String = {
          val Seq(b0, b1, b2) = oOls(Some(lam))
          s"""${oQ(b0, 9)} AS intercept_q$suffix,
             |  ${oQ(b1, 9)} AS b_hour_q$suffix,
             |  ${oQ(b2, 9)} AS b_dow_q$suffix""".stripMargin
        }
        s"""WITH f AS (
           |  ${oFeatures("event_type")}),
           |m AS (
           |  ${oMomentsBy("f", "event_type")(Ols)}),
           |d AS (
           |  SELECT event_type, n,
           |    ${oDescale(Ols)}
           |  FROM m)
           |SELECT event_type, n,
           |  ${coefs("0.0", "_ols")},
           |  ${coefs("1000.0", "_r3")},
           |  ${coefs("100000.0", "_r5")}
           |FROM d""".stripMargin
      },
      (s, d) => {
        def coefs(lam: Double, suffix: String): Seq[Column] = {
          val Seq(b0, b1, b2) = ols(Some(lit(lam)))
          Seq(q(b0, 9).as(s"intercept_q$suffix"),
            q(b1, 9).as(s"b_hour_q$suffix"),
            q(b2, 9).as(s"b_dow_q$suffix"))
        }
        momentsBy(features(Tables.events(s, d), col("event_type")),
            "event_type")(Ols)
          .select(col("event_type") +: col("n") +: descale(Ols): _*)
          .select(Seq(col("event_type"), col("n")) ++
            coefs(0.0, "_ols") ++ coefs(1000.0, "_r3") ++
            coefs(100000.0, "_r5"): _*)
      }),

    // K-FOLD CROSS-VALIDATION ASSIGNMENT — the random-split counterpart
    // to the temporal/rolling/year splits above (the reference caps its
    // monthly loop with sklearn CV; distributed, the fold id must be a
    // pure function of the ROW, not of a partitioning-dependent RNG
    // draw order). fold = portable-hash(vec_id) mod 5: deterministic at
    // any parallelism, collision-free by construction (each row in
    // exactly one fold), no shuffle beyond the one counting hash-agg.
    // Per (fold, label): member count, exact id checksum (proves the
    // assignment itself, not just the sizes), and the complementary
    // train-side count — train_n + n = label_total for every fold, the
    // leakage-free partition property. The label totals are a handful
    // of rows, broadcast back (never a second scan).
    QueryDef(
      "mlprep_cv_folds",
      Some {
        val h = graft.operators.TextOps
          .oHash32("'cv:' || CAST(vec_id AS VARCHAR)")
        s"""WITH f AS (
           |  SELECT vec_id, CAST(label AS BIGINT) AS label,
           |    $h % 5 AS fold
           |  FROM embeddings),
           |t AS (
           |  SELECT fold, label, count(*) AS n,
           |    CAST(SUM(vec_id) AS BIGINT) AS id_sum
           |  FROM f GROUP BY 1, 2),
           |tot AS (
           |  SELECT label, CAST(SUM(n) AS BIGINT) AS label_total
           |  FROM t GROUP BY 1)
           |SELECT t.fold, t.label, t.n, t.id_sum,
           |  tot.label_total - t.n AS train_n
           |FROM t JOIN tot ON t.label = tot.label""".stripMargin
      },
      (s, d) => {
        import graft.operators.TextOps.hash32
        val f = Tables.embeddings(s, d).select(
          col("vec_id"), col("label").cast("long").as("label"),
          (hash32(concat(lit("cv:"), col("vec_id").cast("string")))
            % 5).as("fold"))
        val t = f.groupBy("fold", "label")
          .agg(count(lit(1)).as("n"), sum("vec_id").as("id_sum"))
        val tot = broadcast(t.groupBy("label")
          .agg(sum("n").as("label_total")))
        t.join(tot, "label").select(col("fold"), col("label"), col("n"),
          col("id_sum"), (col("label_total") - col("n")).as("train_n"))
      }),

    // DISTRIBUTED LOGISTIC REGRESSION — the reference's classifier surface
    // (`data_apis/my_model.py:123-163`, sklearn LogisticRegression behind
    // optuna) re-expressed as ENGINE work: IRLS/Newton with a FIXED
    // iteration count (4), trained per event_type on the exact integer
    // feature grid [1, hour 0-23, dow 1-7] with label y = (value ≥ 100),
    // the mlprep_eval_report convention.
    //
    // Scale shape (the whole point): the data-sized work is ONE hash-agg
    // compressing N rows to the ≤ |groups|·24·7-cell grid (n, Σy per
    // cell) — map-side combinable, shuffle carries ≤ 168 rows per group.
    // Every Newton step is then arithmetic on the persisted grid with the
    // current coefficients BROADCAST back (a |groups|-row frame — the
    // k-means-fold pattern): per step one grid-sized agg builds the
    // gradient XᵀWz and Hessian XᵀWX moments and a 3×3 Cramer solve
    // (LinearFit.cramer3) updates β. 4 iterations = 4 tiny-frame
    // stages; the corpus is scanned exactly once, at any data size.
    //
    // Parity doctrine (why this is hash-exact cross-engine with a
    // nonlinear model): libm exp/ln are NOT correctly rounded, so the
    // sigmoid is evaluated as 1/(1+(1 − z/65536)^65536) via 16 explicit
    // squarings — only IEEE-exact ops (+,−,×,÷ are correctly rounded),
    // one identical expression tree on both engines (mathematically
    // within 0.02% of exp for |z| ≤ 5; the MODEL is defined by this
    // link, both engines replay it bit-for-bit). z is clamped to ±30 so
    // the base stays positive. Per-cell p and n·p(1−p) are floor-
    // quantized to the 1e-9 grid as LONGS, so every moment sum is an
    // order-free exact integer (bounds: |Σ wq·x1·x2| ≤ 161·0.25e9·N —
    // inside int64 to N ≈ 2e8 rows per group; past that the sums move to
    // decimal(38,0)/HUGEINT unchanged). Coefficients floor-quantized at
    // 1e9; train AUC is the exact average-rank algebra over the grid's
    // score histogram (mlprep_eval_report's num2/2·np·nn — one division
    // of exact integers).
    QueryDef(
      "mlprep_logit",
      Some {
        val Seq(d0, d1, d2) = oCramer3("h00", "h01", "h02", "h11", "h12",
          "h22", "g0", "g1", "g2")
        def iter(k: Int): String = {
          val sq = (1 to 16).map(i =>
            s"e${k}_$i AS (SELECT * REPLACE (e * e AS e) FROM e${k}_${i - 1})")
            .mkString(",\n")
          s"""z$k AS (
             |  SELECT g.event_type, g.x1, g.x2, g.n, g.yc,
             |    b.c0, b.c1, b.c2,
             |    greatest(least(b.c0 + b.c1 * CAST(g.x1 AS DOUBLE)
             |      + b.c2 * CAST(g.x2 AS DOUBLE), 30.0e0), -30.0e0) AS zc
             |  FROM grid g JOIN b$k b ON g.event_type = b.event_type),
             |e${k}_0 AS (SELECT *, 1.0e0 + (-zc) / 65536.0e0 AS e FROM z$k),
             |$sq,
             |q$k AS (SELECT *,
             |    CAST(floor((1.0e0 / (1.0e0 + e)) * 1.0e9) AS BIGINT) AS pq,
             |    CAST(floor(((CAST(n AS DOUBLE) * (1.0e0 / (1.0e0 + e)))
             |      * (1.0e0 - (1.0e0 / (1.0e0 + e)))) * 1.0e9) AS BIGINT)
             |      AS wq
             |  FROM e${k}_16),
             |s$k AS (
             |  SELECT event_type,
             |    min(c0) AS c0, min(c1) AS c1, min(c2) AS c2,
             |    CAST(SUM(yc * 1000000000 - n * pq) AS BIGINT) AS ig0,
             |    CAST(SUM(x1 * (yc * 1000000000 - n * pq)) AS BIGINT) AS ig1,
             |    CAST(SUM(x2 * (yc * 1000000000 - n * pq)) AS BIGINT) AS ig2,
             |    CAST(SUM(wq) AS BIGINT) AS ih00,
             |    CAST(SUM(wq * x1) AS BIGINT) AS ih01,
             |    CAST(SUM(wq * x2) AS BIGINT) AS ih02,
             |    CAST(SUM(wq * x1 * x1) AS BIGINT) AS ih11,
             |    CAST(SUM(wq * x1 * x2) AS BIGINT) AS ih12,
             |    CAST(SUM(wq * x2 * x2) AS BIGINT) AS ih22
             |  FROM q$k GROUP BY 1),
             |d$k AS (
             |  SELECT event_type, c0, c1, c2,
             |    CAST(ig0 AS DOUBLE) / 1.0e9 AS g0,
             |    CAST(ig1 AS DOUBLE) / 1.0e9 AS g1,
             |    CAST(ig2 AS DOUBLE) / 1.0e9 AS g2,
             |    CAST(ih00 AS DOUBLE) / 1.0e9 AS h00,
             |    CAST(ih01 AS DOUBLE) / 1.0e9 AS h01,
             |    CAST(ih02 AS DOUBLE) / 1.0e9 AS h02,
             |    CAST(ih11 AS DOUBLE) / 1.0e9 AS h11,
             |    CAST(ih12 AS DOUBLE) / 1.0e9 AS h12,
             |    CAST(ih22 AS DOUBLE) / 1.0e9 AS h22
             |  FROM s$k),
             |b${k + 1} AS (
             |  SELECT event_type,
             |    c0 + $d0 AS c0,
             |    c1 + $d1 AS c1,
             |    c2 + $d2 AS c2
             |  FROM d$k)""".stripMargin
        }
        s"""WITH grid AS (
           |  $oCellGrid),
           |b0 AS (
           |  SELECT DISTINCT event_type, 0.0e0 AS c0, 0.0e0 AS c1,
           |    0.0e0 AS c2
           |  FROM grid),
           |${iter(0)},
           |${iter(1)},
           |${iter(2)},
           |${iter(3)},
           |score AS (
           |  SELECT g.event_type, g.x1, g.x2, g.n, g.yc,
           |    b.c0 + b.c1 * CAST(g.x1 AS DOUBLE)
           |      + b.c2 * CAST(g.x2 AS DOUBLE) AS z
           |  FROM grid g JOIN b4 b ON g.event_type = b.event_type),
           |hh AS (
           |  SELECT event_type, z + 0.0e0 AS zk,
           |    CAST(SUM(n) AS BIGINT) AS n,
           |    CAST(SUM(yc) AS BIGINT) AS pos,
           |    CAST(SUM(n - yc) AS BIGINT) AS neg
           |  FROM score GROUP BY 1, 2),
           |r AS (
           |  SELECT *, COALESCE(SUM(neg) OVER (PARTITION BY event_type
           |    ORDER BY zk ROWS BETWEEN UNBOUNDED PRECEDING AND
           |    1 PRECEDING), 0) AS cumneg
           |  FROM hh),
           |a AS (
           |  SELECT event_type,
           |    CAST(SUM(n) AS BIGINT) AS n,
           |    CAST(SUM(pos) AS BIGINT) AS np,
           |    CAST(SUM(neg) AS BIGINT) AS nn,
           |    CAST(SUM(pos * (2 * cumneg + neg)) AS BIGINT) AS num2
           |  FROM r GROUP BY 1)
           |SELECT a.event_type, a.n,
           |  ${oQ("b.c0", 9)} AS b0_q,
           |  ${oQ("b.c1", 9)} AS b1_q,
           |  ${oQ("b.c2", 9)} AS b2_q,
           |  CAST(num2 AS DOUBLE) / CAST(NULLIF(2 * np * nn, 0) AS DOUBLE)
           |    AS auc_train
           |FROM a JOIN b4 b ON a.event_type = b.event_type""".stripMargin
      },
      (s, d) => {
        // all four IRLS steps + the tie-correct train AUC run inside
        // ONE typed aggregate (functions/FitAggregates.LogitFit4) over
        // the cell grid — identical IEEE step arithmetic to the
        // original per-step moment/Cramer projection formulation (the
        // oracle still runs it as unrolled CTEs; unchanged hashes prove
        // the identity), two exec stages total
        val grid = cellGrid(Tables.events(s, d))
        grid.groupBy("event_type")
          .agg(expr("logit_fit4(x1, x2, n, yc)").as("r"))
          .select(col("event_type"), col("r.n").as("n"),
            col("r.b0_q").as("b0_q"), col("r.b1_q").as("b1_q"),
            col("r.b2_q").as("b2_q"),
            col("r.auc_train").as("auc_train"))
      }),

    // DISTRIBUTED DECISION TREE — the reference's tree family
    // (`data_apis/my_model.py:164-260`, sklearn DecisionTree /
    // GradientBoosting behind optuna) re-expressed as the
    // XGBoost/LightGBM HISTOGRAM-SPLIT shape: a depth-3 gini
    // classification tree per event_type on the integer feature grid
    // (hour 0-23, dow 1-7), label y = (value ≥ 100).
    //
    // Scale shape: the data-sized work is the SAME one-pass grid build as
    // mlprep_logit (N rows → ≤168 cells per group; for continuous
    // features this is the LightGBM 256-bin quantization). Each tree
    // LEVEL is then exactly one histogram-sized aggregate: per
    // (group, node, feature, bin) marginals, a cumulative window over the
    // ≤24-row bin axis turns prefix sums into every candidate split's
    // left/right counts — no per-row sort, no per-candidate scan, the
    // textbook greedy split search as ONE window over the histogram. The
    // chosen splits (≤ |groups|·2^level rows) broadcast back to re-route
    // cells to children. Depth d costs d histogram aggregates after one
    // corpus scan, at any data size.
    //
    // Parity: every count is an exact integer; the weighted-gini score
    // n_l − (pos_l²+neg_l²)/n_l + (same for right) is ONE identical IEEE
    // tree over exact-int casts, so split ordering (score ASC, feat,
    // thr — full deterministic tiebreak) matches bit-for-bit. Output is
    // the tree STRUCTURE itself: one row per internal node (level 0-2:
    // chosen feature + threshold + node counts) and per leaf (level 3,
    // null split), with the node base rate pred = pos/n (one exact-int
    // division). A node with no valid candidate (single distinct value
    // on both features) stays unsplit and routes left — ids stay
    // aligned.
    QueryDef(
      "mlprep_tree",
      Some {
        def level(l: Int): String =
          s"""m$l AS (
             |  SELECT event_type, node, 1 AS feat, x1 AS v,
             |    CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(yc) AS BIGINT) AS pos
             |  FROM asg$l GROUP BY 1, 2, 4
             |  UNION ALL
             |  SELECT event_type, node, 2 AS feat, x2 AS v,
             |    CAST(SUM(n) AS BIGINT), CAST(SUM(yc) AS BIGINT)
             |  FROM asg$l GROUP BY 1, 2, 4),
             |c$l AS (
             |  SELECT *,
             |    CAST(SUM(n) OVER w AS BIGINT) AS nl,
             |    CAST(SUM(pos) OVER w AS BIGINT) AS posl,
             |    CAST(SUM(n) OVER t AS BIGINT) AS ntot,
             |    CAST(SUM(pos) OVER t AS BIGINT) AS postot,
             |    MAX(v) OVER t AS vmax
             |  FROM m$l
             |  WINDOW w AS (PARTITION BY event_type, node, feat ORDER BY v
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             |  t AS (PARTITION BY event_type, node, feat)),
             |s$l AS (
             |  SELECT event_type, node, feat, v AS thr, ntot, postot,
             |    nl, posl, ntot - nl AS nr, postot - posl AS posr
             |  FROM c$l WHERE v < vmax),
             |g$l AS (
             |  SELECT *,
             |    (CAST(nl AS DOUBLE)
             |      - (CAST(posl * posl AS DOUBLE)
             |        + CAST((nl - posl) * (nl - posl) AS DOUBLE))
             |        / CAST(nl AS DOUBLE))
             |    + (CAST(nr AS DOUBLE)
             |      - (CAST(posr * posr AS DOUBLE)
             |        + CAST((nr - posr) * (nr - posr) AS DOUBLE))
             |        / CAST(nr AS DOUBLE)) AS score
             |  FROM s$l),
             |b$l AS (
             |  SELECT * FROM (
             |    SELECT *, row_number() OVER (PARTITION BY event_type, node
             |      ORDER BY score, feat, thr) AS rn
             |    FROM g$l) WHERE rn = 1),
             |asg${l + 1} AS (
             |  SELECT a.event_type, a.x1, a.x2, a.n, a.yc,
             |    CASE
             |      WHEN b.node IS NULL THEN a.node * 2
             |      WHEN (CASE WHEN b.feat = 1 THEN a.x1 ELSE a.x2 END)
             |        <= b.thr THEN a.node * 2
             |      ELSE a.node * 2 + 1 END AS node
             |  FROM asg$l a LEFT JOIN b$l b
             |    ON a.event_type = b.event_type AND a.node = b.node)"""
            .stripMargin
        s"""WITH grid AS (
           |  $oCellGrid),
           |asg0 AS (SELECT *, CAST(0 AS BIGINT) AS node FROM grid),
           |${level(0)},
           |${level(1)},
           |${level(2)},
           |leaves AS (
           |  SELECT event_type, CAST(3 AS BIGINT) AS level, node,
           |    CAST(NULL AS BIGINT) AS feat, CAST(NULL AS BIGINT) AS thr,
           |    CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(yc) AS BIGINT) AS pos
           |  FROM asg3 GROUP BY 1, 3),
           |tree AS (
           |  SELECT event_type, CAST(0 AS BIGINT) AS level, node,
           |    CAST(feat AS BIGINT) AS feat, thr, ntot AS n, postot AS pos
           |  FROM b0
           |  UNION ALL
           |  SELECT event_type, CAST(1 AS BIGINT), node,
           |    CAST(feat AS BIGINT), thr, ntot, postot FROM b1
           |  UNION ALL
           |  SELECT event_type, CAST(2 AS BIGINT), node,
           |    CAST(feat AS BIGINT), thr, ntot, postot FROM b2
           |  UNION ALL
           |  SELECT * FROM leaves)
           |SELECT event_type, level, node, feat, thr, n, pos,
           |  CAST(pos AS DOUBLE) / CAST(n AS DOUBLE) AS pred
           |FROM tree""".stripMargin
      },
      (s, d) => {
        // the whole depth-3 search is ONE typed aggregate over the cell
        // grid (functions/FitAggregates.TreeFit3) — identical IEEE
        // split arithmetic to the original three-level window/broadcast
        // formulation (which the oracle still runs as unrolled CTEs;
        // unchanged hashes prove the identity), but two exec stages
        // instead of ~a dozen tiny window/join stages per invocation
        val grid = cellGrid(Tables.events(s, d))
        grid.groupBy("event_type")
          .agg(expr("tree_fit3(x1, x2, n, yc)").as("t"))
          .select(col("event_type"), explode(col("t")).as("r"))
          .select(col("event_type"), col("r.level").as("level"),
            col("r.node").as("node"), col("r.feat").as("feat"),
            col("r.thr").as("thr"), col("r.n").as("n"),
            col("r.pos").as("pos"),
            (col("r.pos").cast("double") / col("r.n").cast("double"))
              .as("pred"))
      }),

    // HYPERPARAMETER SWEEP IN ONE SCAN — the reference's optuna studies
    // (`data_apis/my_model.py:135-247`: n_trials=50 fit/score loops, each
    // re-reading the data) as engine work: a full λ-grid × 5-fold CV
    // ridge sweep where the DATA is scanned exactly once.
    //
    // The trick making |grid|·|folds| models one pass: sufficient
    // statistics are ADDITIVE. One hash-agg collects the ten ridge
    // moments per (group, fold); train-side stats for fold f are then
    // total − fold_f (arithmetic on the 25-row table, never a second
    // scan), and the held-out SSE needs NO scoring pass either —
    // SSE = Σy² − 2βᵀXᵀy + βᵀXᵀXβ evaluates the test fold entirely from
    // its own moment row. Every (fold, λ) model is a Cramer solve + a
    // quadratic form on a stats-sized frame; 20 models or 20,000 cost
    // the same single corpus read. The winner per group (min Σ_folds
    // test-MSE, λ tiebreak) is flagged in-row — the optuna "best trial"
    // as a window rank.
    //
    // Parity: fold = hash32('cv:'‖event_id) % 5 (mlprep_cv_folds'
    // deterministic assignment); all moments exact longs on the lq grid;
    // β and SSE are one shared IEEE tree over exact-int casts; MSE is
    // floor-quantized (yq² units) so the CV sum is an order-free integer.
    QueryDef(
      "mlprep_sweep",
      Some {
        val Seq(b0, b1, b2) = oOls(Some("lam"))
        val h = graft.operators.TextOps
          .oHash32("'cv:' || CAST(event_id AS VARCHAR)")
        s"""WITH f AS (
           |  ${oFeatures("event_type", s"$h % 5 AS fold")}),
           |m AS (
           |  ${oMomentsBy("f", "event_type", "fold")(OlsYy)}),
           |t AS (
           |  SELECT event_type,
           |    ${Ols.map { case (k, _) =>
                  s"CAST(SUM($k) AS BIGINT) AS ${named("t")(k)}" }
                  .mkString(",\n    ")}
           |  FROM m GROUP BY 1),
           |lamgrid AS (SELECT * FROM (VALUES (0.0e0), (1.0e3), (1.0e5),
           |  (1.0e7)) l(lam)),
           |tr AS (
           |  SELECT m.event_type, m.fold, l.lam,
           |    t.tn - m.n AS n_train, m.n AS n_test,
           |    ${oDescale(Ols, cents = false,
                  from = k => s"t.${named("t")(k)} - m.$k")},
           |    ${oDescale(OlsYy, "q", cents = false, from = "m." + _)}
           |  FROM m JOIN t ON m.event_type = t.event_type
           |  CROSS JOIN lamgrid l),
           |sol AS (
           |  SELECT *, $b0 AS b0, $b1 AS b1, $b2 AS b2
           |  FROM tr),
           |ev AS (
           |  SELECT event_type, fold, lam, n_train, n_test,
           |    ${oQ("b0", 7)} AS b0_q,
           |    ${oQ("b1", 7)} AS b1_q,
           |    ${oQ("b2", 7)} AS b2_q,
           |    ${oQ(oSse(m = "q" + _) +
                  " / CAST(NULLIF(n_test, 0) AS DOUBLE)", 0)} AS mse_q
           |  FROM sol),
           |win AS (
           |  SELECT event_type, lam, CAST(SUM(mse_q) AS BIGINT) AS cv_q
           |  FROM ev GROUP BY 1, 2),
           |rk AS (
           |  SELECT *, row_number() OVER (PARTITION BY event_type
           |    ORDER BY cv_q, lam) AS rn
           |  FROM win)
           |SELECT e.event_type, e.fold, e.lam, e.n_train, e.n_test,
           |  e.b0_q, e.b1_q, e.b2_q, e.mse_q, r.cv_q AS cv_mse_sum_q,
           |  CAST(CASE WHEN r.rn = 1 THEN 1 ELSE 0 END AS BIGINT) AS is_best
           |FROM ev e JOIN rk r
           |  ON e.event_type = r.event_type AND e.lam = r.lam""".stripMargin
      },
      (s, d) => {
        import graft.operators.TextOps.hash32
        val f = features(Tables.events(s, d), col("event_type"),
          (hash32(concat(lit("cv:"), col("event_id").cast("string")))
            % 5).as("fold"))
        val m = momentsBy(f, "event_type", "fold")(OlsYy)
          .persist() // the |groups|·|folds|-row moment table is the ONLY
                     // thing derived from the corpus — total, train-side,
                     // and winner branches all re-read it, so without the
                     // cache each branch would re-scan the data
        val totals = Ols.map { case (k, _) => sum(k).as(named("t")(k)) }
        val t = m.groupBy("event_type").agg(totals.head, totals.tail: _*)
        import s.implicits._
        val lamgrid = Seq(0.0, 1.0e3, 1.0e5, 1.0e7).toDF("lam")
        // stats-sized cross join: |groups|·|folds| moment rows × |λ| —
        // never the data
        val tr = m.join(broadcast(t), "event_type")
          .crossJoin(broadcast(lamgrid))
          .select(Seq(col("event_type"), col("fold"), col("lam"),
            (col("tn") - col("n")).as("n_train"), col("n").as("n_test")) ++
            descale(Ols, cents = false,
              from = k => col(named("t")(k)) - col(k)) ++
            descale(OlsYy, "q", cents = false): _*)
        val Seq(b0, b1, b2) = ols(Some(col("lam")))
        val ev = tr.withColumn("b0", b0)
          .withColumn("b1", b1).withColumn("b2", b2)
          .select(col("event_type"), col("fold"), col("lam"),
            col("n_train"), col("n_test"),
            q(col("b0"), 7).as("b0_q"), q(col("b1"), 7).as("b1_q"),
            q(col("b2"), 7).as("b2_q"),
            q(sse(m = "q" + _) /
              nullif(col("n_test"), lit(0L)).cast("double"), 0).as("mse_q"))
        val win = ev.groupBy("event_type", "lam")
          .agg(sum("mse_q").as("cv_q"))
        val rk = win.withColumn("rn", row_number().over(
          Window.partitionBy("event_type").orderBy(col("cv_q"), col("lam"))))
        ev.join(broadcast(rk), Seq("event_type", "lam"))
          .select(col("event_type"), col("fold"), col("lam"),
            col("n_train"), col("n_test"), col("b0_q"), col("b1_q"),
            col("b2_q"), col("mse_q"), col("cv_q").as("cv_mse_sum_q"),
            when(col("rn") === 1, 1L).otherwise(0L).as("is_best"))
      }),

    // WALK-FORWARD RETRAIN — the reference's rolling-window backtest
    // loop (`my_model.py:446-482` get_rolling_window_splits feeding the
    // fit/score loop at `:567-650`: retrain on each sliding window,
    // evaluate strictly out-of-window) composed into ONE query. Windows
    // are day-grain (train 14d → test 7d, sliding 7d — the reference's
    // monthly scheme granularity-parametrized to the fixture span, the
    // mlprep_eval_report precedent), bounds data-driven from a broadcast
    // 1-row aggregate (mlprep_rolling_splits' pattern — no collect, no
    // baked-in dates).
    //
    // Scale shape: ONE corpus pass builds day-grain moment rows
    // (|groups|·|days| — tiny at any data size); every window's train
    // AND test statistics are then range-joined sums of those rows
    // (train = Σ its 14 days — windows OVERLAP in rows but only
    // moment-table rows are re-read, never the corpus), each window's
    // model is a closed-form Cramer solve, and both in-window and
    // out-of-window MSE evaluate from the windows' own moment sums via
    // the SSE quadratic form (mlprep_sweep's identity). The whole
    // monthly-retrain backtest a reference user scripts as a loop is
    // one declarative plan with one data-sized stage.
    //
    // Parity: moments exact longs on the lq grid; date arithmetic on
    // DATE ints; β/SSE one shared IEEE tree; MSE floor-quantized in yq²
    // units; coefficients at 1e9 in value units (1e7 on the yq scale).
    QueryDef(
      "mlprep_walk_forward",
      Some {
        val Seq(b0, b1, b2) = oOls()
        def mse(p: String): String = oQ(oSse(m = p + _) +
          s" / CAST(NULLIF(${p}n, 0) AS DOUBLE)", 0)
        s"""WITH f AS (
           |  ${oFeatures("event_type", "CAST(ts AS DATE) AS day")}),
           |md AS (
           |  ${oMomentsBy("f", "event_type", "day")(OlsYy)}),
           |bounds AS (SELECT min(day) AS lo, max(day) AS hi FROM md),
           |splits AS (
           |  SELECT k AS split_id,
           |    CAST(lo + INTERVAL (7 * k) DAY AS DATE) AS train_start,
           |    CAST(lo + INTERVAL (7 * k + 14) DAY AS DATE) AS train_end,
           |    CAST(lo + INTERVAL (7 * k + 21) DAY AS DATE) AS test_end
           |  FROM bounds, generate_series(0, 50) t(k)
           |  WHERE CAST(lo + INTERVAL (7 * k + 21) DAY AS DATE) <= hi),
           |ag AS (
           |  SELECT m.event_type, s.split_id, s.train_start, s.train_end,
           |    s.test_end,
           |    CASE WHEN m.day < s.train_end THEN 'train' ELSE 'test' END
           |      AS role,
           |    ${OlsYy.map { case (k, _) => s"CAST(SUM($k) AS BIGINT) AS $k" }
                  .mkString(",\n    ")}
           |  FROM md m JOIN splits s
           |    ON m.day >= s.train_start AND m.day < s.test_end
           |  GROUP BY 1, 2, 3, 4, 5, 6),
           |tr AS (
           |  SELECT event_type, split_id, train_start, train_end, test_end,
           |    n AS n_train,
           |    ${oDescale(OlsYy, cents = false)}
           |  FROM ag WHERE role = 'train'),
           |te AS (
           |  SELECT event_type, split_id, n AS n_test,
           |    ${oDescale(OlsYy, "q", cents = false)}
           |  FROM ag WHERE role = 'test'),
           |sol AS (
           |  SELECT tr.*, te.n_test,
           |    ${OlsYy.map(k => "te." + named("q")(k._1)).mkString(", ")},
           |    $b0 AS b0, $b1 AS b1, $b2 AS b2
           |  FROM tr JOIN te ON tr.event_type = te.event_type
           |    AND tr.split_id = te.split_id)
           |SELECT event_type, split_id, train_start, train_end, test_end,
           |  n_train, n_test,
           |  ${oQ("b0", 7)} AS b0_q,
           |  ${oQ("b1", 7)} AS b1_q,
           |  ${oQ("b2", 7)} AS b2_q,
           |  ${mse("s")} AS train_mse_q,
           |  ${mse("q")} AS test_mse_q
           |FROM sol""".stripMargin
      },
      (s, d) => {
        val f = features(Tables.events(s, d), col("event_type"),
          to_date(col("ts")).as("day"))
        val md = momentsBy(f, "event_type", "day")(OlsYy)
        val bounds = md.agg(min("day").as("lo"), max("day").as("hi"))
        val splits = bounds
          .select(explode(sequence(lit(0), lit(50))).as("k"),
            col("lo"), col("hi"))
          .select(col("k").cast("long").as("split_id"),
            date_add(col("lo"), col("k") * 7).as("train_start"),
            date_add(col("lo"), col("k") * 7 + 14).as("train_end"),
            date_add(col("lo"), col("k") * 7 + 21).as("test_end"),
            col("hi"))
          .filter(col("test_end") <= col("hi"))
          .drop("hi")
        val sums = OlsYy.map { case (k, _) => sum(k).as(k) }
        val ag = md.join(broadcast(splits),
            col("day") >= col("train_start") && col("day") < col("test_end"))
          .groupBy(col("event_type"), col("split_id"), col("train_start"),
            col("train_end"), col("test_end"),
            when(col("day") < col("train_end"), "train").otherwise("test")
              .as("role"))
          .agg(sums.head, sums.tail: _*)
        val tr = ag.filter(col("role") === "train").select(Seq(
          col("event_type"), col("split_id"), col("train_start"),
          col("train_end"), col("test_end"), col("n").as("n_train")) ++
          descale(OlsYy, cents = false): _*)
        val te = ag.filter(col("role") === "test").select(Seq(
          col("event_type"), col("split_id"), col("n").as("n_test")) ++
          descale(OlsYy, "q", cents = false): _*)
        val Seq(b0, b1, b2) = ols()
        def mse(p: String): Column =
          q(sse(m = p + _) / nullif(col(p + "n"), lit(0.0)), 0)
        tr.join(te, Seq("event_type", "split_id"))
          .withColumn("b0", b0).withColumn("b1", b1).withColumn("b2", b2)
          .select(col("event_type"), col("split_id"), col("train_start"),
            col("train_end"), col("test_end"), col("n_train"),
            col("n_test"),
            q(col("b0"), 7).as("b0_q"), q(col("b1"), 7).as("b1_q"),
            q(col("b2"), 7).as("b2_q"),
            mse("s").as("train_mse_q"), mse("q").as("test_mse_q"))
      }),

    // DISTRIBUTED GRADIENT BOOSTING — the reference's boosting family
    // (`data_apis/my_model.py:208-260` GradientBoostingClassifier, and
    // the XGBoost path at `:261-370`) as engine work: 4 Newton boosting
    // rounds of depth-1 stumps on the feature grid, logistic loss,
    // XGBoost's exact split algebra (gain = G_L²/(H_L+λ) + G_R²/(H_R+λ)
    // − G²/(H+λ); leaf value −G/(H+λ); λ=1, learning rate 0.5, F₀=0).
    //
    // Scale shape: the model state is F PER GRID CELL (all rows of a
    // cell share x, hence share F and p — the LightGBM histogram
    // insight), so after the one data-sized grid build each round is:
    // sigmoid + per-cell gradient/hessian (arithmetic), one
    // histogram-sized aggregate to (feature, bin) G/H marginals, one
    // cumulative window over the ≤24-bin axis for every candidate
    // split, a per-group argmax, and a broadcast-back F update. K
    // rounds cost K histogram aggregates after ONE corpus scan.
    //
    // Parity: sigmoid is the deterministic 16-squaring rational link
    // (mlprep_logit), per-cell G = n·p_q − y·1e9 and H = ⌊n·p(1−p)·1e9⌋
    // are exact longs so marginal sums are order-free; gain/leaf values
    // are one shared IEEE tree over exact-int casts with a full
    // (gain DESC, feat, thr) tiebreak; per-round train AUC is the exact
    // average-rank algebra over the updated F ordering. A group with no
    // valid candidate emits no row for that round and F carries
    // unchanged (LEFT join on the pick).
    QueryDef(
      "mlprep_gbt",
      Some {
        def round(k: Int): String = {
          val sq = (1 to 16).map(i =>
            s"p${k}_$i AS (SELECT * REPLACE (e * e AS e) FROM p${k}_${i - 1})")
            .mkString(",\n")
          s"""p${k}_0 AS (SELECT *, 1.0e0 +
             |    (-greatest(least(f, 30.0e0), -30.0e0)) / 65536.0e0 AS e
             |  FROM fc$k),
             |$sq,
             |q$k AS (SELECT event_type, x1, x2, n, yc, f,
             |    n * CAST(floor((1.0e0 / (1.0e0 + e)) * 1.0e9) AS BIGINT)
             |      - yc * 1000000000 AS gq,
             |    CAST(floor(((CAST(n AS DOUBLE) * (1.0e0 / (1.0e0 + e)))
             |      * (1.0e0 - (1.0e0 / (1.0e0 + e)))) * 1.0e9) AS BIGINT)
             |      AS hq
             |  FROM p${k}_16),
             |m$k AS (
             |  SELECT event_type, 1 AS feat, x1 AS v,
             |    CAST(SUM(gq) AS BIGINT) AS sg, CAST(SUM(hq) AS BIGINT) AS sh
             |  FROM q$k GROUP BY 1, 3
             |  UNION ALL
             |  SELECT event_type, 2, x2, CAST(SUM(gq) AS BIGINT),
             |    CAST(SUM(hq) AS BIGINT)
             |  FROM q$k GROUP BY 1, 3),
             |c$k AS (
             |  SELECT *, CAST(SUM(sg) OVER w AS BIGINT) AS sgl,
             |    CAST(SUM(sh) OVER w AS BIGINT) AS shl,
             |    CAST(SUM(sg) OVER t AS BIGINT) AS sgt,
             |    CAST(SUM(sh) OVER t AS BIGINT) AS sht,
             |    MAX(v) OVER t AS vmax
             |  FROM m$k
             |  WINDOW w AS (PARTITION BY event_type, feat ORDER BY v
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             |  t AS (PARTITION BY event_type, feat)),
             |s$k AS (
             |  SELECT event_type, feat, v AS thr,
             |    CAST(sgl AS DOUBLE) / 1.0e9 AS gl,
             |    CAST(shl AS DOUBLE) / 1.0e9 AS hl,
             |    CAST(sgt - sgl AS DOUBLE) / 1.0e9 AS gr,
             |    CAST(sht - shl AS DOUBLE) / 1.0e9 AS hr,
             |    CAST(sgt AS DOUBLE) / 1.0e9 AS gt,
             |    CAST(sht AS DOUBLE) / 1.0e9 AS ht
             |  FROM c$k WHERE v < vmax),
             |g$k AS (
             |  SELECT *, gl * gl / (hl + 1.0e0) + gr * gr / (hr + 1.0e0)
             |      - gt * gt / (ht + 1.0e0) AS gain,
             |    -(gl) / (hl + 1.0e0) AS dl, -(gr) / (hr + 1.0e0) AS dr
             |  FROM s$k),
             |b$k AS (
             |  SELECT * FROM (
             |    SELECT *, row_number() OVER (PARTITION BY event_type
             |      ORDER BY gain DESC, feat, thr) AS rn
             |    FROM g$k) WHERE rn = 1),
             |fc${k + 1} AS (
             |  SELECT a.event_type, a.x1, a.x2, a.n, a.yc,
             |    a.f + CASE WHEN b.event_type IS NULL THEN 0.0e0
             |      WHEN (CASE WHEN b.feat = 1 THEN a.x1 ELSE a.x2 END)
             |        <= b.thr THEN 0.5e0 * b.dl
             |      ELSE 0.5e0 * b.dr END AS f
             |  FROM fc$k a LEFT JOIN b$k b ON a.event_type = b.event_type),
             |h$k AS (
             |  SELECT event_type, f + 0.0e0 AS fk,
             |    CAST(SUM(yc) AS BIGINT) AS pos,
             |    CAST(SUM(n - yc) AS BIGINT) AS neg
             |  FROM fc${k + 1} GROUP BY 1, 2),
             |r$k AS (
             |  SELECT *, COALESCE(SUM(neg) OVER (PARTITION BY event_type
             |    ORDER BY fk ROWS BETWEEN UNBOUNDED PRECEDING AND
             |    1 PRECEDING), 0) AS cumneg
             |  FROM h$k),
             |a$k AS (
             |  SELECT event_type, CAST(SUM(pos) AS BIGINT) AS np,
             |    CAST(SUM(neg) AS BIGINT) AS nn,
             |    CAST(SUM(pos * (2 * cumneg + neg)) AS BIGINT) AS num2
             |  FROM r$k GROUP BY 1),
             |o$k AS (
             |  SELECT b.event_type, CAST($k AS BIGINT) AS round,
             |    CAST(b.feat AS BIGINT) AS feat, b.thr,
             |    CAST(floor(b.dl * 1.0e9 + 0.5e0) AS BIGINT) AS delta_l_q,
             |    CAST(floor(b.dr * 1.0e9 + 0.5e0) AS BIGINT) AS delta_r_q,
             |    CAST(floor(b.gain * 1.0e6 + 0.5e0) AS BIGINT) AS gain_q,
             |    CAST(a.num2 AS DOUBLE)
             |      / CAST(NULLIF(2 * a.np * a.nn, 0) AS DOUBLE) AS auc_train
             |  FROM b$k b JOIN a$k a ON b.event_type = a.event_type)"""
            .stripMargin
        }
        s"""WITH grid AS (
           |  $oCellGrid),
           |fc0 AS (SELECT *, 0.0e0 AS f FROM grid),
           |${round(0)},
           |${round(1)},
           |${round(2)},
           |${round(3)}
           |SELECT * FROM o0 UNION ALL SELECT * FROM o1
           |UNION ALL SELECT * FROM o2 UNION ALL SELECT * FROM o3"""
          .stripMargin
      },
      (s, d) => {
        // all four boosting rounds run inside ONE typed aggregate
        // (functions/FitAggregates.GbtFit4) over the cell grid —
        // identical IEEE round arithmetic to the original per-round
        // projection/window/persist formulation (which the oracle still
        // runs as unrolled CTEs; unchanged hashes prove the identity),
        // but two exec stages instead of 4x a multi-stage chain
        val grid = cellGrid(Tables.events(s, d))
        grid.groupBy("event_type")
          .agg(expr("gbt_fit4(x1, x2, n, yc)").as("t"))
          .select(col("event_type"), explode(col("t")).as("r"))
          .select(col("event_type"), col("r.round").as("round"),
            col("r.feat").as("feat"), col("r.thr").as("thr"),
            col("r.delta_l_q").as("delta_l_q"),
            col("r.delta_r_q").as("delta_r_q"),
            col("r.gain_q").as("gain_q"),
            col("r.auc_train").as("auc_train"))
      }),

    // DISTRIBUTED RANDOM FOREST — the reference's ensemble family
    // (`data_apis/my_model.py:261-370`: RandomForest / the bagged
    // XGBoost path) as engine work: 8 bagged stumps per group with the
    // two classic randomness sources made DETERMINISTIC row-level
    // functions, the property that makes a forest reproducible at any
    // parallelism:
    //  - bootstrap: per (tree, row) weight w ∈ {0,1,2,3} from a hash
    //    threshold table approximating Poisson(1) (.368/.368/.184/.080)
    //    — the standard distributed-RF bootstrap (sampling WITH
    //    replacement via Poisson counts), hash-derived so re-runs and
    //    re-partitions agree bit-for-bit;
    //  - feature subsampling (mtry=1): tree t may split only on
    //    hash("rf:f:"‖t) % 2 + 1.
    //
    // Scale shape: ONE corpus scan fans each row into 8 (tree, cell)
    // aggregate keys (map-side combined — the shuffle carries the
    // 8×-grid histogram, never 8× the data) collecting in-bag weighted
    // counts AND out-of-bag counts per cell. Each tree's split search is
    // the cumulative-window-over-bins pattern (mlprep_tree) on its
    // weighted histogram; leaf predictions are in-bag rates; each
    // tree's OOB AUC evaluates on the rows that tree never saw (w=0) —
    // the forest's built-in validation — and the ensemble score per
    // cell is the EXACT integer sum of the 8 quantized leaf predictions
    // (order-free), giving an exact ensemble train AUC. Zero-in-bag
    // split sides are excluded; a tree with no valid candidate emits no
    // row.
    QueryDef(
      "mlprep_forest",
      Some {
        val hw = graft.operators.TextOps.oHash32(
          "'rf:w:' || CAST(t.tree AS VARCHAR) || ':' || " +
            "CAST(event_id AS VARCHAR)")
        val hf = graft.operators.TextOps.oHash32(
          "'rf:f:' || CAST(tree AS VARCHAR)")
        s"""WITH f AS (
           |  SELECT event_type, t.tree, $oX1, $oX2, $oY,
           |    CASE WHEN $hw % 1000 < 368 THEN 0
           |         WHEN $hw % 1000 < 736 THEN 1
           |         WHEN $hw % 1000 < 920 THEN 2 ELSE 3 END AS w
           |  FROM events e, generate_series(0, 7) t(tree)),
           |grid AS (
           |  SELECT event_type, tree, x1, x2,
           |    CAST(SUM(w) AS BIGINT) AS wn,
           |    CAST(SUM(w * y) AS BIGINT) AS wy,
           |    CAST(SUM(CASE WHEN w = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
           |    CAST(SUM(CASE WHEN w = 0 THEN y ELSE 0 END) AS BIGINT) AS p0,
           |    CAST(count(*) AS BIGINT) AS cnt,
           |    CAST(SUM(y) AS BIGINT) AS cy
           |  FROM f GROUP BY 1, 2, 3, 4),
           |gv AS (
           |  SELECT *, CASE WHEN $hf % 2 + 1 = 1 THEN x1 ELSE x2 END AS v,
           |    CAST($hf % 2 + 1 AS BIGINT) AS feat
           |  FROM grid),
           |m AS (
           |  SELECT event_type, tree, feat, v,
           |    CAST(SUM(wn) AS BIGINT) AS n, CAST(SUM(wy) AS BIGINT) AS pos
           |  FROM gv GROUP BY 1, 2, 3, 4),
           |c AS (
           |  SELECT *, CAST(SUM(n) OVER w2 AS BIGINT) AS nl,
           |    CAST(SUM(pos) OVER w2 AS BIGINT) AS posl,
           |    CAST(SUM(n) OVER t2 AS BIGINT) AS ntot,
           |    CAST(SUM(pos) OVER t2 AS BIGINT) AS postot,
           |    MAX(v) OVER t2 AS vmax
           |  FROM m
           |  WINDOW w2 AS (PARTITION BY event_type, tree ORDER BY v
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           |  t2 AS (PARTITION BY event_type, tree)),
           |s AS (
           |  SELECT event_type, tree, feat, v AS thr, ntot, postot,
           |    nl, posl, ntot - nl AS nr, postot - posl AS posr
           |  FROM c WHERE v < vmax AND nl > 0 AND ntot - nl > 0),
           |g AS (
           |  SELECT *,
           |    (CAST(nl AS DOUBLE)
           |      - (CAST(posl * posl AS DOUBLE)
           |        + CAST((nl - posl) * (nl - posl) AS DOUBLE))
           |        / CAST(nl AS DOUBLE))
           |    + (CAST(nr AS DOUBLE)
           |      - (CAST(posr * posr AS DOUBLE)
           |        + CAST((nr - posr) * (nr - posr) AS DOUBLE))
           |        / CAST(nr AS DOUBLE)) AS score
           |  FROM s),
           |b AS (
           |  SELECT * FROM (
           |    SELECT *, row_number() OVER (PARTITION BY event_type, tree
           |      ORDER BY score, thr) AS rn
           |    FROM g) WHERE rn = 1),
           |pk AS (
           |  SELECT event_type, tree, feat, thr, ntot AS wn_inbag,
           |    postot AS wpos_inbag,
           |    CAST(floor(CAST(posl AS DOUBLE) / CAST(nl AS DOUBLE)
           |      * 1.0e9) AS BIGINT) AS pred_l_q,
           |    CAST(floor(CAST(posr AS DOUBLE) / CAST(nr AS DOUBLE)
           |      * 1.0e9) AS BIGINT) AS pred_r_q
           |  FROM b),
           |sc AS (
           |  SELECT gr.event_type, gr.tree, gr.x1, gr.x2, gr.c0, gr.p0,
           |    gr.cnt, gr.cy,
           |    CASE WHEN (CASE WHEN p.feat = 1 THEN gr.x1 ELSE gr.x2 END)
           |      <= p.thr THEN p.pred_l_q ELSE p.pred_r_q END AS score_q
           |  FROM grid gr JOIN pk p
           |    ON gr.event_type = p.event_type AND gr.tree = p.tree),
           |sh AS (
           |  SELECT event_type, tree, score_q,
           |    CAST(SUM(p0) AS BIGINT) AS pos,
           |    CAST(SUM(c0 - p0) AS BIGINT) AS neg
           |  FROM sc GROUP BY 1, 2, 3),
           |ro AS (
           |  SELECT *, COALESCE(SUM(neg) OVER (
           |    PARTITION BY event_type, tree ORDER BY score_q
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |    AS cumneg
           |  FROM sh),
           |oob AS (
           |  SELECT event_type, tree,
           |    CAST(SUM(pos) AS BIGINT) AS np,
           |    CAST(SUM(neg) AS BIGINT) AS nn,
           |    CAST(SUM(pos * (2 * cumneg + neg)) AS BIGINT) AS num2
           |  FROM ro GROUP BY 1, 2),
           |ens0 AS (
           |  SELECT event_type, x1, x2,
           |    CAST(SUM(score_q) AS BIGINT) AS ens_q
           |  FROM sc GROUP BY 1, 2, 3),
           |base AS (
           |  SELECT event_type, x1, x2, cnt, cy FROM grid WHERE tree = 0),
           |eh AS (
           |  SELECT e0.event_type, e0.ens_q,
           |    CAST(SUM(ba.cy) AS BIGINT) AS pos,
           |    CAST(SUM(ba.cnt - ba.cy) AS BIGINT) AS neg
           |  FROM ens0 e0 JOIN base ba
           |    ON e0.event_type = ba.event_type AND e0.x1 = ba.x1
           |   AND e0.x2 = ba.x2
           |  GROUP BY 1, 2),
           |er AS (
           |  SELECT *, COALESCE(SUM(neg) OVER (PARTITION BY event_type
           |      ORDER BY ens_q
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |      AS cumneg
           |  FROM eh),
           |ens AS (
           |  SELECT event_type,
           |    CAST(SUM(pos) AS BIGINT) AS np,
           |    CAST(SUM(neg) AS BIGINT) AS nn,
           |    CAST(SUM(pos * (2 * cumneg + neg)) AS BIGINT) AS num2
           |  FROM er GROUP BY 1)
           |SELECT p.event_type, p.tree, p.feat, p.thr, p.wn_inbag,
           |  p.wpos_inbag, p.pred_l_q, p.pred_r_q,
           |  CAST(o.num2 AS DOUBLE)
           |    / CAST(NULLIF(2 * o.np * o.nn, 0) AS DOUBLE) AS oob_auc,
           |  CAST(en.num2 AS DOUBLE)
           |    / CAST(NULLIF(2 * en.np * en.nn, 0) AS DOUBLE) AS ens_auc
           |FROM pk p
           |JOIN oob o ON p.event_type = o.event_type AND p.tree = o.tree
           |JOIN ens en ON p.event_type = en.event_type""".stripMargin
      },
      (s, d) => {
        import graft.operators.TextOps.hash32
        // the 8-way bagged fan-out and the deterministic hash bootstrap
        // stay data-sized work in the grid build (one map-side-combined
        // scan); everything after the grid — per-tree stump search, OOB
        // AUC, ensemble AUC — runs inside ONE typed aggregate
        // (functions/FitAggregates.ForestFit8) replaying the identical
        // IEEE arithmetic of the original window/join formulation (the
        // oracle still runs it as unrolled CTEs; unchanged hashes prove
        // the identity)
        val f = Tables.events(s, d)
          .select(col("event_type"), col("event_id"), col("ts"),
            col("value"))
          .withColumn("tree", explode(sequence(lit(0L), lit(7L))))
          .select(col("event_type"), col("tree"), x1, x2, y,
            {
              val h = hash32(concat(lit("rf:w:"),
                col("tree").cast("string"), lit(":"),
                col("event_id").cast("string"))) % 1000
              when(h < 368, 0L).when(h < 736, 1L).when(h < 920, 2L)
                .otherwise(3L).as("w")
            })
        val grid = f.groupBy("event_type", "tree", "x1", "x2").agg(
            sum("w").as("wn"),
            sum(col("w") * col("y")).as("wy"),
            sum(when(col("w") === 0, 1L).otherwise(0L)).as("c0"),
            sum(when(col("w") === 0, col("y")).otherwise(0L)).as("p0"),
            count(lit(1)).as("cnt"), sum("y").as("cy"))
        val featOf = (hash32(concat(lit("rf:f:"),
          col("tree").cast("string"))) % 2 + 1)
        grid.withColumn("feat", featOf.cast("long"))
          .groupBy("event_type")
          .agg(expr("forest_fit8(tree, feat, x1, x2, wn, wy, c0, p0, " +
            "cnt, cy)").as("t"))
          .select(col("event_type"), explode(col("t")).as("r"))
          .select(col("event_type"), col("r.tree").as("tree"),
            col("r.feat").as("feat"), col("r.thr").as("thr"),
            col("r.wn_inbag").as("wn_inbag"),
            col("r.wpos_inbag").as("wpos_inbag"),
            col("r.pred_l_q").as("pred_l_q"),
            col("r.pred_r_q").as("pred_r_q"),
            col("r.oob_auc").as("oob_auc"),
            col("r.ens_auc").as("ens_auc"))
      }),

    // FORWARD FEATURE SELECTION IN ONE SCAN — the reference's stepwise
    // wrapper selection (`my_model.py:90-111`: SequentialFeatureSelector
    // pipelines, each candidate subset refit from scratch) as engine
    // work over three candidate features (hour, dow, day-of-month):
    // greedy forward selection where EVERY candidate model's exact
    // train SSE is closed-form arithmetic on one shared 15-moment
    // table — step 1 evaluates all three single-feature fits (2×2
    // solves), step 2 all remaining pairs (3×3 Cramer), so the whole
    // wrapper search costs one corpus scan regardless of how many
    // subsets it scores (sklearn refits per subset per fold).
    //
    // Output: one row per (group, step) — the feature added, the
    // model's SSE, and the improvement over the previous step (step 0
    // is the intercept-only baseline). Parity: moments are exact longs
    // on the lq grid; every solve and SSE is one shared IEEE tree;
    // SSE floor-quantized in yq² units; argmin tiebreak by feature id.
    QueryDef(
      "mlprep_forward_select",
      Some {
        // single-feature fit on (sj, sjj, sjy): SSE via the 2×2 solve
        def sse1(j: Int): String = {
          val (sj, sjj, sjy) = (s"s$j", s"s$j$j", s"s${j}y")
          s"""SELECT event_type, CAST($j AS BIGINT) AS feat,
             |  syy - 2.0e0 * (((sy - (sn * ${sjy} - $sj * sy)
             |        / (sn * $sjj - $sj * $sj) * $sj) / sn) * sy
             |      + (sn * $sjy - $sj * sy) / (sn * $sjj - $sj * $sj)
             |        * $sjy)
             |    + (((sy - (sn * $sjy - $sj * sy)
             |        / (sn * $sjj - $sj * $sj) * $sj) / sn)
             |      * ((sy - (sn * $sjy - $sj * sy)
             |        / (sn * $sjj - $sj * $sj) * $sj) / sn) * sn
             |      + (sn * $sjy - $sj * sy) / (sn * $sjj - $sj * $sj)
             |        * ((sn * $sjy - $sj * sy) / (sn * $sjj - $sj * $sj))
             |        * $sjj
             |      + 2.0e0 * ((sy - (sn * $sjy - $sj * sy)
             |        / (sn * $sjj - $sj * $sj) * $sj) / sn)
             |        * ((sn * $sjy - $sj * sy) / (sn * $sjj - $sj * $sj))
             |        * $sj) AS sse
             |FROM d""".stripMargin
        }
        // pair fit (a,b) via the shared 3×3 Cramer solve
        def sse2(a: Int, b: Int): String = {
          val m = pairNames(a, b)
          val bs = oCramer3("sn", m("1"), m("2"), m("11"), m("12"), m("22"),
            "sy", m("1y"), m("2y"))
          s"""SELECT event_type, CAST($a AS BIGINT) AS fa,
             |  CAST($b AS BIGINT) AS fb, ${oSse(bs, m)} AS sse
             |FROM d""".stripMargin
        }
        s"""WITH f AS (
           |  ${oFeatures("event_type", oX3)}),
           |m AS (
           |  ${oMomentsBy("f", "event_type")(FwdMoments)}),
           |d AS (
           |  SELECT event_type, n,
           |    ${oDescale(FwdMoments, cents = false)}
           |  FROM m),
           |base AS (
           |  SELECT event_type, syy - sy * sy / sn AS sse FROM d),
           |c1 AS (${sse1(1)} UNION ALL ${sse1(2)} UNION ALL ${sse1(3)}),
           |b1 AS (
           |  SELECT * FROM (SELECT *, row_number() OVER (
           |    PARTITION BY event_type ORDER BY sse, feat) AS rn FROM c1)
           |  WHERE rn = 1),
           |c2 AS (${sse2(1, 2)} UNION ALL ${sse2(1, 3)}
           |  UNION ALL ${sse2(2, 3)}),
           |c2f AS (
           |  SELECT c.event_type,
           |    CASE WHEN c.fa = b.feat THEN c.fb ELSE c.fa END AS feat,
           |    c.sse
           |  FROM c2 c JOIN b1 b ON c.event_type = b.event_type
           |  WHERE c.fa = b.feat OR c.fb = b.feat),
           |b2 AS (
           |  SELECT * FROM (SELECT *, row_number() OVER (
           |    PARTITION BY event_type ORDER BY sse, feat) AS rn FROM c2f)
           |  WHERE rn = 1),
           |steps AS (
           |  SELECT event_type, CAST(0 AS BIGINT) AS step,
           |    CAST(NULL AS BIGINT) AS feature, sse, sse AS prev
           |  FROM base
           |  UNION ALL
           |  SELECT b1.event_type, CAST(1 AS BIGINT), b1.feat, b1.sse,
           |    base.sse
           |  FROM b1 JOIN base ON b1.event_type = base.event_type
           |  UNION ALL
           |  SELECT b2.event_type, CAST(2 AS BIGINT), b2.feat, b2.sse,
           |    b1.sse
           |  FROM b2 JOIN b1 ON b2.event_type = b1.event_type)
           |SELECT event_type, step, feature,
           |  ${oQ("sse", 0)} AS sse_q,
           |  ${oQ("prev - sse", 0)} AS gain_q
           |FROM steps""".stripMargin
      },
      (s, d) => {
        val f = features(Tables.events(s, d), col("event_type"), x3)
        val dd = momentsBy(f, "event_type")(FwdMoments)
          .persist() // the 15-moment table is the only corpus artifact;
                     // base, all candidate fits, and the step rows
                     // re-read it
          .select(col("event_type") +: col("n") +:
            descale(FwdMoments, cents = false): _*)
        val base = dd.select(col("event_type"),
          (col("syy") - col("sy") * col("sy") / col("sn")).as("sse"))
        def sse1(j: Int): DataFrame = {
          val (sj, sjj, sjy) = (col(s"s$j"), col(s"s$j$j"), col(s"s${j}y"))
          val b = (col("sn") * sjy - sj * col("sy")) /
            (col("sn") * sjj - sj * sj)
          val a = (col("sy") - b * sj) / col("sn")
          dd.select(col("event_type"), lit(j.toLong).as("feat"),
            (col("syy") - lit(2.0) * (a * col("sy") + b * sjy)
              + (a * a * col("sn") + b * b * sjj
                + lit(2.0) * a * b * sj)).as("sse"))
        }
        def sse2(a: Int, b: Int): DataFrame = {
          val m = pairNames(a, b)
          val bs = cramer3(col("sn"), col(m("1")), col(m("2")),
            col(m("11")), col(m("12")), col(m("22")),
            col("sy"), col(m("1y")), col(m("2y")))
          dd.select(col("event_type"), lit(a.toLong).as("fa"),
            lit(b.toLong).as("fb"), sse(bs, m).as("sse"))
        }
        val c1 = sse1(1).unionByName(sse1(2)).unionByName(sse1(3))
        val b1 = c1.withColumn("rn", row_number().over(
            Window.partitionBy("event_type").orderBy(col("sse"),
              col("feat"))))
          .filter(col("rn") === 1).drop("rn")
        val c2 = sse2(1, 2).unionByName(sse2(1, 3)).unionByName(sse2(2, 3))
        val c2f = c2.join(b1.select(col("event_type"),
            col("feat").as("picked")), "event_type")
          .filter(col("fa") === col("picked") || col("fb") === col("picked"))
          .select(col("event_type"),
            when(col("fa") === col("picked"), col("fb")).otherwise(col("fa"))
              .as("feat"),
            col("sse"))
        val b2 = c2f.withColumn("rn", row_number().over(
            Window.partitionBy("event_type").orderBy(col("sse"),
              col("feat"))))
          .filter(col("rn") === 1).drop("rn")
        val steps = base.select(col("event_type"), lit(0L).as("step"),
            lit(null).cast("long").as("feature"), col("sse"),
            col("sse").as("prev"))
          .unionByName(b1.join(base.select(col("event_type"),
              col("sse").as("prev")), "event_type")
            .select(col("event_type"), lit(1L).as("step"),
              col("feat").as("feature"), col("sse"), col("prev")))
          .unionByName(b2.join(b1.select(col("event_type"),
              col("sse").as("prev")), "event_type")
            .select(col("event_type"), lit(2L).as("step"),
              col("feat").as("feature"), col("sse"), col("prev")))
        steps.select(col("event_type"), col("step"), col("feature"),
          q(col("sse"), 0).as("sse_q"),
          q(col("prev") - col("sse"), 0).as("gain_q"))
      }),

    // FEATURE IMPORTANCE — sklearn's `feature_importances_`
    // (`my_model.py:102-121`, printed for every selection pipeline) for
    // the depth-3 histogram tree: mean-decrease-in-impurity, i.e. each
    // split's n-weighted gini decrease (parent − left − right, the
    // n-weighted form has sklearn's n_node/n_total weighting built in)
    // summed per feature and normalized to 1 per group. Same histogram
    // split search as mlprep_tree (one corpus scan, one histogram agg
    // per level); the importance itself is arithmetic over the ≤7 split
    // rows. Per-split decreases are floor-quantized to a 1e-6 grid so
    // the per-feature sum is an order-free integer (a raw double sum
    // over splits would be accumulation-order-dependent cross-engine);
    // decrease is provably ≥ 0 (gini concavity), so quantization keeps
    // exactness.
    QueryDef(
      "mlprep_importance",
      Some {
        def level(l: Int): String =
          s"""m$l AS (
             |  SELECT event_type, node, 1 AS feat, x1 AS v,
             |    CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(yc) AS BIGINT) AS pos
             |  FROM asg$l GROUP BY 1, 2, 4
             |  UNION ALL
             |  SELECT event_type, node, 2 AS feat, x2 AS v,
             |    CAST(SUM(n) AS BIGINT), CAST(SUM(yc) AS BIGINT)
             |  FROM asg$l GROUP BY 1, 2, 4),
             |c$l AS (
             |  SELECT *,
             |    CAST(SUM(n) OVER w AS BIGINT) AS nl,
             |    CAST(SUM(pos) OVER w AS BIGINT) AS posl,
             |    CAST(SUM(n) OVER t AS BIGINT) AS ntot,
             |    CAST(SUM(pos) OVER t AS BIGINT) AS postot,
             |    MAX(v) OVER t AS vmax
             |  FROM m$l
             |  WINDOW w AS (PARTITION BY event_type, node, feat ORDER BY v
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             |  t AS (PARTITION BY event_type, node, feat)),
             |s$l AS (
             |  SELECT event_type, node, feat, v AS thr, ntot, postot,
             |    nl, posl, ntot - nl AS nr, postot - posl AS posr
             |  FROM c$l WHERE v < vmax),
             |g$l AS (
             |  SELECT *,
             |    (CAST(nl AS DOUBLE)
             |      - (CAST(posl * posl AS DOUBLE)
             |        + CAST((nl - posl) * (nl - posl) AS DOUBLE))
             |        / CAST(nl AS DOUBLE))
             |    + (CAST(nr AS DOUBLE)
             |      - (CAST(posr * posr AS DOUBLE)
             |        + CAST((nr - posr) * (nr - posr) AS DOUBLE))
             |        / CAST(nr AS DOUBLE)) AS score
             |  FROM s$l),
             |b$l AS (
             |  SELECT * FROM (
             |    SELECT *, row_number() OVER (PARTITION BY event_type, node
             |      ORDER BY score, feat, thr) AS rn
             |    FROM g$l) WHERE rn = 1),
             |asg${l + 1} AS (
             |  SELECT a.event_type, a.x1, a.x2, a.n, a.yc,
             |    CASE
             |      WHEN b.node IS NULL THEN a.node * 2
             |      WHEN (CASE WHEN b.feat = 1 THEN a.x1 ELSE a.x2 END)
             |        <= b.thr THEN a.node * 2
             |      ELSE a.node * 2 + 1 END AS node
             |  FROM asg$l a LEFT JOIN b$l b
             |    ON a.event_type = b.event_type AND a.node = b.node)"""
            .stripMargin
        val parentGini =
          """(CAST(ntot AS DOUBLE)
            |      - (CAST(postot * postot AS DOUBLE)
            |        + CAST((ntot - postot) * (ntot - postot) AS DOUBLE))
            |        / CAST(ntot AS DOUBLE))""".stripMargin
        s"""WITH grid AS (
           |  $oCellGrid),
           |asg0 AS (SELECT *, CAST(0 AS BIGINT) AS node FROM grid),
           |${level(0)},
           |${level(1)},
           |${level(2)},
           |splits AS (
           |  SELECT event_type, CAST(feat AS BIGINT) AS feat,
           |    CAST(floor(($parentGini - score) * 1.0e6 + 0.5e0) AS BIGINT)
           |      AS decq
           |  FROM (SELECT * FROM b0 UNION ALL SELECT * FROM b1
           |        UNION ALL SELECT * FROM b2)),
           |imps AS (
           |  SELECT event_type, feat, CAST(count(*) AS BIGINT) AS n_splits,
           |    CAST(SUM(decq) AS BIGINT) AS dec
           |  FROM splits GROUP BY 1, 2),
           |tot AS (
           |  SELECT event_type, CAST(SUM(dec) AS BIGINT) AS t
           |  FROM imps GROUP BY 1)
           |SELECT i.event_type, i.feat, i.n_splits,
           |  CAST(floor(CAST(i.dec AS DOUBLE) / CAST(NULLIF(t.t, 0)
           |    AS DOUBLE) * 1.0e9 + 0.5e0) AS BIGINT) AS importance_q
           |FROM imps i JOIN tot t ON i.event_type = t.event_type"""
          .stripMargin
      },
      (s, d) => {
        // same tree_fit3 aggregate as mlprep_tree: split rows carry the
        // node totals and the winning candidate's score, so the MDI
        // numerator parent_gini − score derives from the struct fields
        // through the identical IEEE tree the windowed formulation used
        val grid = cellGrid(Tables.events(s, d))
        def halfP(n: Column, p: Column): Column =
          n.cast("double") -
            ((p * p).cast("double") + ((n - p) * (n - p)).cast("double")) /
              n.cast("double")
        val splits = grid.groupBy("event_type")
          .agg(expr("tree_fit3(x1, x2, n, yc)").as("t"))
          .select(col("event_type"), explode(col("t")).as("r"))
          .filter(col("r.level") < 3)
          .select(col("event_type"), col("r.feat").as("feat"),
            floor((halfP(col("r.n"), col("r.pos")) - col("r.score"))
              * lit(1e6) + lit(0.5)).cast("long").as("decq"))
        val imps = splits.groupBy("event_type", "feat")
          .agg(count(lit(1)).as("n_splits"), sum("decq").as("dec"))
          .persist() // groups×2 rows; the normalizer and the output
                     // join both read it — without the cache each
                     // branch re-runs the corpus scan + tree aggregate
        val tot = imps.groupBy("event_type").agg(sum("dec").as("t"))
        imps.join(broadcast(tot), "event_type")
          .select(col("event_type"), col("feat"), col("n_splits"),
            floor(col("dec").cast("double") /
              nullif(col("t"), lit(0L)).cast("double") * lit(1e9)
              + lit(0.5)).cast("long").as("importance_q"))
      }),

    // NAIVE BAYES — the one classical classifier family the zoo
    // (`my_model.py:123-370`) brackets but the board had not trained:
    // categorical NB with Laplace smoothing (α=1) over the (hour, dow)
    // feature pair, y = value ≥ 100. The model IS three count tables —
    // class priors, per-(class, hour) counts, per-(class, dow) counts —
    // so training is ONE scan to the feature grid and two
    // histogram-sized rollups of it; prediction runs on GRID CELLS (all
    // rows of a cell share x hence share the posterior), each cell
    // joined to the broadcast model. At 100 TB the exchanges carry the
    // ≤24×7-per-group grid and the model stays |groups|×31 rows —
    // nothing data-sized ever shuffles twice.
    //
    // Parity: posteriors compare via one shared IEEE tree of exact-int
    // casts and divisions (multiplication/division are correctly
    // rounded on both engines; log-space scoring would NOT be — ln is
    // not IEEE-exact cross-engine, so the product form is the
    // deterministic choice; at 2 features it cannot underflow). Ties
    // (p1 == p0 bitwise) fall to class 0 on both sides.
    QueryDef(
      "mlprep_naive_bayes",
      Some {
        s"""WITH grid AS (
           |  $oCellGrid),
           |hx1 AS (
           |  SELECT event_type, x1, CAST(sum(yc) AS BIGINT) AS cp1,
           |    CAST(sum(n) AS BIGINT) AS ct1
           |  FROM grid GROUP BY 1, 2),
           |hx2 AS (
           |  SELECT event_type, x2, CAST(sum(yc) AS BIGINT) AS cp2,
           |    CAST(sum(n) AS BIGINT) AS ct2
           |  FROM grid GROUP BY 1, 2),
           |pri AS (
           |  SELECT event_type, CAST(sum(n) AS BIGINT) AS nt,
           |    CAST(sum(yc) AS BIGINT) AS npos
           |  FROM grid GROUP BY 1),
           |cells AS (
           |  SELECT g.*, h1.cp1, h1.ct1, h2.cp2, h2.ct2, p.nt, p.npos,
           |    p.nt - p.npos AS nneg
           |  FROM grid g
           |  JOIN hx1 h1 ON g.event_type = h1.event_type AND g.x1 = h1.x1
           |  JOIN hx2 h2 ON g.event_type = h2.event_type AND g.x2 = h2.x2
           |  JOIN pri p ON g.event_type = p.event_type),
           |scored AS (
           |  SELECT *,
           |    CASE WHEN
           |      CAST(npos AS DOUBLE) / CAST(nt AS DOUBLE)
           |        * (CAST(cp1 + 1 AS DOUBLE) / CAST(npos + 24 AS DOUBLE))
           |        * (CAST(cp2 + 1 AS DOUBLE) / CAST(npos + 7 AS DOUBLE))
           |      >
           |      CAST(nneg AS DOUBLE) / CAST(nt AS DOUBLE)
           |        * (CAST(ct1 - cp1 + 1 AS DOUBLE)
           |          / CAST(nneg + 24 AS DOUBLE))
           |        * (CAST(ct2 - cp2 + 1 AS DOUBLE)
           |          / CAST(nneg + 7 AS DOUBLE))
           |    THEN 1 ELSE 0 END AS pred
           |  FROM cells)
           |SELECT event_type, CAST(max(nt) AS BIGINT) AS n,
           |  CAST(max(npos) AS BIGINT) AS n_pos,
           |  CAST(sum(CASE WHEN pred = 1 THEN yc ELSE 0 END) AS BIGINT)
           |    AS tp,
           |  CAST(sum(CASE WHEN pred = 1 THEN n - yc ELSE 0 END) AS BIGINT)
           |    AS fp,
           |  CAST(sum(CASE WHEN pred = 0 THEN yc ELSE 0 END) AS BIGINT)
           |    AS fn,
           |  CAST(sum(CASE WHEN pred = 0 THEN n - yc ELSE 0 END) AS BIGINT)
           |    AS tn,
           |  CAST(floor(
           |    CAST(sum(CASE WHEN pred = 1 THEN yc ELSE 0 END)
           |       + sum(CASE WHEN pred = 0 THEN n - yc ELSE 0 END)
           |      AS DOUBLE) / CAST(max(nt) AS DOUBLE) * 1.0e9 + 0.5e0)
           |    AS BIGINT) AS acc_q
           |FROM scored GROUP BY 1""".stripMargin
      },
      (s, d) => {
        val grid = cellGrid(Tables.events(s, d))
          .persist() // ≤24×7 cells per group: the three model rollups
                     // and the scoring pass all re-read it
        val hx1 = grid.groupBy("event_type", "x1")
          .agg(sum("yc").as("cp1"), sum("n").as("ct1"))
        val hx2 = grid.groupBy("event_type", "x2")
          .agg(sum("yc").as("cp2"), sum("n").as("ct2"))
        val pri = grid.groupBy("event_type")
          .agg(sum("n").as("nt"), sum("yc").as("npos"))
        val cells = grid
          .join(broadcast(hx1), Seq("event_type", "x1"))
          .join(broadcast(hx2), Seq("event_type", "x2"))
          .join(broadcast(pri), Seq("event_type"))
          .withColumn("nneg", col("nt") - col("npos"))
        val p1 = col("npos").cast("double") / col("nt").cast("double") *
          ((col("cp1") + 1L).cast("double") /
            (col("npos") + 24L).cast("double")) *
          ((col("cp2") + 1L).cast("double") /
            (col("npos") + 7L).cast("double"))
        val p0 = col("nneg").cast("double") / col("nt").cast("double") *
          ((col("ct1") - col("cp1") + 1L).cast("double") /
            (col("nneg") + 24L).cast("double")) *
          ((col("ct2") - col("cp2") + 1L).cast("double") /
            (col("nneg") + 7L).cast("double"))
        val scored = cells.withColumn("pred",
          when(p1 > p0, 1L).otherwise(0L))
        scored.groupBy("event_type").agg(
          max("nt").as("n"), max("npos").as("n_pos"),
          sum(when(col("pred") === 1, col("yc")).otherwise(0L)).as("tp"),
          sum(when(col("pred") === 1, col("n") - col("yc"))
            .otherwise(0L)).as("fp"),
          sum(when(col("pred") === 0, col("yc")).otherwise(0L)).as("fn"),
          sum(when(col("pred") === 0, col("n") - col("yc"))
            .otherwise(0L)).as("tn"))
          .withColumn("acc_q", floor(
            (col("tp") + col("tn")).cast("double") /
              col("n").cast("double") * lit(1e9) + lit(0.5)).cast("long"))
      }),

    // PCA — principal component extraction (the dimensionality-reduction
    // step every sklearn prep pipeline bolts on before the classifier
    // zoo) as engine work: the 3×3 feature covariance comes from ONE
    // exact-long moment pass (the ols_normal table), and the dominant
    // eigenvector from 48 fixed POWER-ITERATION steps (gap^48 < 1e-10
    // even at a 0.61 eigen-gap ratio — convergence is a constant, not
    // a data-dependent loop) — each step is
    // scalar arithmetic on the |groups|-row stats frame, so the whole
    // factorization costs one corpus scan plus arithmetic, at any data
    // size. L∞ normalization inside the loop (no sqrt until the end —
    // fewer correctly-rounded ops to chain), Rayleigh quotient for the
    // eigenvalue, explained-variance ratio against the trace.
    //
    // Parity: covariance numerators n·Σxy − Σx·Σy are exact longs
    // (headroom: n·|Σxy| < 2⁶³ holds to n ≈ 3e7 rows/group on these
    // calendar features; beyond that, grid-quantize features first);
    // the iteration uses only +,−,×,÷,abs,max and the final sqrt — all
    // correctly rounded per IEEE-754 on both engines, so 48 unrolled
    // steps yield bit-identical vectors. Sign canonicalized by v1 ≥ 0.
    // A zero covariance matrix nulls out via NULLIF rather than
    // emitting a fabricated direction.
    QueryDef(
      "mlprep_pca",
      Some {
        val covCols = "c11, c12, c13, c22, c23, c33"
        def step(k: Int): String =
          s"""it$k AS (
             |  SELECT event_type, n, $covCols,
             |    w1 / m AS v1, w2 / m AS v2, w3 / m AS v3
             |  FROM (
             |    SELECT *, NULLIF(greatest(abs(w1), abs(w2), abs(w3)),
             |      0.0e0) AS m
             |    FROM (
             |      SELECT event_type, n, $covCols,
             |        c11 * v1 + c12 * v2 + c13 * v3 AS w1,
             |        c12 * v1 + c22 * v2 + c23 * v3 AS w2,
             |        c13 * v1 + c23 * v2 + c33 * v3 AS w3
             |      FROM it${k - 1})))""".stripMargin
        val steps = (1 to 48).map(step).mkString(",\n")
        s"""WITH f AS (
           |  SELECT event_type, $oX1, $oX2, $oX3 FROM events),
           |m AS (
           |  ${oMomentsBy("f", "event_type")(PcaMoments)}),
           |cov AS (
           |  SELECT event_type, n,
           |    CAST(n * l11 - l1 * l1 AS DOUBLE)
           |      / CAST(n AS DOUBLE) / CAST(n AS DOUBLE) AS c11,
           |    CAST(n * l12 - l1 * l2 AS DOUBLE)
           |      / CAST(n AS DOUBLE) / CAST(n AS DOUBLE) AS c12,
           |    CAST(n * l13 - l1 * l3 AS DOUBLE)
           |      / CAST(n AS DOUBLE) / CAST(n AS DOUBLE) AS c13,
           |    CAST(n * l22 - l2 * l2 AS DOUBLE)
           |      / CAST(n AS DOUBLE) / CAST(n AS DOUBLE) AS c22,
           |    CAST(n * l23 - l2 * l3 AS DOUBLE)
           |      / CAST(n AS DOUBLE) / CAST(n AS DOUBLE) AS c23,
           |    CAST(n * l33 - l3 * l3 AS DOUBLE)
           |      / CAST(n AS DOUBLE) / CAST(n AS DOUBLE) AS c33
           |  FROM m),
           |it0 AS (
           |  SELECT event_type, n, $covCols,
           |    1.0e0 AS v1, 1.0e0 AS v2, 1.0e0 AS v3
           |  FROM cov),
           |$steps,
           |fin AS (
           |  SELECT *,
           |    c11 * v1 + c12 * v2 + c13 * v3 AS w1,
           |    c12 * v1 + c22 * v2 + c23 * v3 AS w2,
           |    c13 * v1 + c23 * v2 + c33 * v3 AS w3,
           |    CASE WHEN v1 < 0.0e0 THEN -1.0e0 ELSE 1.0e0 END AS sg,
           |    sqrt(v1 * v1 + v2 * v2 + v3 * v3) AS nrm
           |  FROM it48),
           |ray AS (
           |  SELECT *,
           |    (v1 * w1 + v2 * w2 + v3 * w3)
           |      / (v1 * v1 + v2 * v2 + v3 * v3) AS eig
           |  FROM fin)
           |SELECT event_type, n,
           |  ${oQ("eig", 9)} AS eig_q,
           |  ${oQ("eig / (c11 + c22 + c33)", 9)} AS evr_q,
           |  ${oQ("v1 / nrm * sg", 9)} AS v1_q,
           |  ${oQ("v2 / nrm * sg", 9)} AS v2_q,
           |  ${oQ("v3 / nrm * sg", 9)} AS v3_q
           |FROM ray""".stripMargin
      },
      (s, d) => {
        val m = momentsBy(Tables.events(s, d)
          .select(col("event_type"), x1, x2, x3), "event_type")(PcaMoments)
        def cv(ij: String, i: String, j: String): Column =
          (col("n") * col(ij) - col(i) * col(j)).cast("double") /
            col("n").cast("double") / col("n").cast("double")
        val cov = m.select(col("event_type"), col("n"),
          cv("l11", "l1", "l1").as("c11"),
          cv("l12", "l1", "l2").as("c12"),
          cv("l13", "l1", "l3").as("c13"),
          cv("l22", "l2", "l2").as("c22"),
          cv("l23", "l2", "l3").as("c23"),
          cv("l33", "l3", "l3").as("c33"))
        // the 48 power-iteration steps as ONE native struct expression
        // (functions/TrainerNative.PowerIter3): same matvec/normalize
        // operation sequence as the original unrolled projection chain,
        // bit-identical vectors, but Catalyst plans one projection
        // instead of 48 — the chain's cost was planning, not data (the
        // oracle keeps its 48 chained CTEs; unchanged hashes prove the
        // arithmetic identity)
        val fin = cov
          .withColumn("pi", call_function("power_iter3",
            col("c11"), col("c12"), col("c13"),
            col("c22"), col("c23"), col("c33")))
          .withColumn("v1", col("pi.v1"))
          .withColumn("v2", col("pi.v2"))
          .withColumn("v3", col("pi.v3"))
          .withColumn("w1", col("pi.w1"))
          .withColumn("w2", col("pi.w2"))
          .withColumn("w3", col("pi.w3"))
          .withColumn("sg", when(col("v1") < 0.0, -1.0).otherwise(1.0))
          .withColumn("nrm", sqrt(col("v1") * col("v1")
            + col("v2") * col("v2") + col("v3") * col("v3")))
          .withColumn("eig",
            (col("v1") * col("w1") + col("v2") * col("w2")
              + col("v3") * col("w3")) /
            (col("v1") * col("v1") + col("v2") * col("v2")
              + col("v3") * col("v3")))
        fin.select(col("event_type"), col("n"),
          q(col("eig"), 9).as("eig_q"),
          q(col("eig") / (col("c11") + col("c22") + col("c33")), 9)
            .as("evr_q"),
          q(col("v1") / col("nrm") * col("sg"), 9).as("v1_q"),
          q(col("v2") / col("nrm") * col("sg"), 9).as("v2_q"),
          q(col("v3") / col("nrm") * col("sg"), 9).as("v3_q"))
      }),

    // LEARNING CURVE — sklearn's `learning_curve` (the train-size
    // diagnostic every reference notebook plots) in ONE scan: day-grain
    // moment rows once, a cumulative window over the |days|-row frame
    // turns EVERY train-prefix into ready-made sufficient statistics,
    // so the four prefix models (25/50/75/100% of the train pool) and
    // their shared-holdout MSEs are closed-form arithmetic — where the
    // sklearn loop refits the data once per size. Holdout = the last
    // ⌈D/5⌉ days; prefix boundaries are data-driven integer arithmetic
    // on the broadcast day-count row (no collect, no baked dates).
    //
    // Parity: day-grain sums on the lq grid are exact longs and the
    // cumulative sums stay exact; β and the MSE quadratic form are the
    // walk_forward IEEE trees; prefix-boundary days are integer DIV.
    QueryDef(
      "mlprep_learning_curve",
      Some {
        s"""WITH f AS (
           |  SELECT event_type, CAST(ts AS DATE) AS day,
           |    CAST(hour(ts) AS BIGINT) AS x, $oYq
           |  FROM events),
           |md AS (
           |  SELECT event_type, day, CAST(count(*) AS BIGINT) AS n,
           |    CAST(sum(x) AS BIGINT) AS lx,
           |    CAST(sum(x * x) AS BIGINT) AS lxx,
           |    CAST(sum(yq) AS BIGINT) AS ly,
           |    CAST(sum(x * yq) AS BIGINT) AS lxy,
           |    CAST(sum(yq * yq) AS BIGINT) AS lyy
           |  FROM f GROUP BY 1, 2),
           |cum AS (
           |  SELECT event_type, day,
           |    CAST(row_number() OVER w AS BIGINT) AS rn,
           |    CAST(sum(n) OVER c AS BIGINT) AS cn,
           |    CAST(sum(lx) OVER c AS BIGINT) AS cx,
           |    CAST(sum(lxx) OVER c AS BIGINT) AS cxx,
           |    CAST(sum(ly) OVER c AS BIGINT) AS cy,
           |    CAST(sum(lxy) OVER c AS BIGINT) AS cxy,
           |    CAST(sum(lyy) OVER c AS BIGINT) AS cyy
           |  FROM md
           |  WINDOW w AS (PARTITION BY event_type ORDER BY day),
           |    c AS (PARTITION BY event_type ORDER BY day
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
           |dd AS (
           |  SELECT event_type, CAST(count(*) AS BIGINT) AS days
           |  FROM md GROUP BY 1),
           |tt AS (
           |  SELECT event_type, days, days - (days + 4) // 5 AS t
           |  FROM dd),
           |tot AS (
           |  SELECT event_type, CAST(max(rn) AS BIGINT) AS drn,
           |    CAST(max_by(cn, rn) AS BIGINT) AS tn,
           |    CAST(max_by(cx, rn) AS BIGINT) AS tx,
           |    CAST(max_by(cxx, rn) AS BIGINT) AS txx,
           |    CAST(max_by(cy, rn) AS BIGINT) AS ty,
           |    CAST(max_by(cxy, rn) AS BIGINT) AS txy,
           |    CAST(max_by(cyy, rn) AS BIGINT) AS tyy
           |  FROM cum GROUP BY 1),
           |hold AS (
           |  SELECT c.event_type,
           |    o.tn - c.cn AS qn0, o.tx - c.cx AS qx0,
           |    o.txx - c.cxx AS qxx0, o.ty - c.cy AS qy0,
           |    o.txy - c.cxy AS qxy0, o.tyy - c.cyy AS qyy0
           |  FROM cum c
           |  JOIN tt t ON c.event_type = t.event_type AND c.rn = t.t
           |  JOIN tot o ON c.event_type = o.event_type),
           |marks AS (
           |  SELECT t.event_type, t.days, t.t, fr.frac,
           |    (t.t * fr.frac + 99) // 100 AS kf
           |  FROM tt t, (SELECT unnest([25, 50, 75, 100]) AS frac) fr),
           |pick AS (
           |  SELECT m.event_type, m.frac, m.kf AS train_days,
           |    m.days - m.t AS test_days,
           |    c.cn AS n_train, CAST(c.cn AS DOUBLE) AS sn,
           |    CAST(c.cx AS DOUBLE) AS sx, CAST(c.cxx AS DOUBLE) AS sxx,
           |    CAST(c.cy AS DOUBLE) / 100.0e0 AS sy,
           |    CAST(c.cxy AS DOUBLE) / 100.0e0 AS sxy,
           |    h.qn0 AS n_test, CAST(h.qn0 AS DOUBLE) AS qn,
           |    CAST(h.qx0 AS DOUBLE) AS qx, CAST(h.qxx0 AS DOUBLE) AS qxx,
           |    CAST(h.qy0 AS DOUBLE) / 100.0e0 AS qy,
           |    CAST(h.qxy0 AS DOUBLE) / 100.0e0 AS qxy,
           |    CAST(h.qyy0 AS DOUBLE) / 10000.0e0 AS qyy
           |  FROM marks m
           |  JOIN cum c ON m.event_type = c.event_type AND c.rn = m.kf
           |  JOIN hold h ON m.event_type = h.event_type),
           |fit AS (
           |  SELECT *,
           |    (sn * sxy - sx * sy) / (sn * sxx - sx * sx) AS b
           |  FROM pick),
           |ab AS (
           |  SELECT *, (sy - b * sx) / sn AS a FROM fit)
           |SELECT event_type, CAST(frac AS BIGINT) AS frac,
           |  CAST(train_days AS BIGINT) AS train_days,
           |  CAST(test_days AS BIGINT) AS test_days,
           |  CAST(n_train AS BIGINT) AS n_train,
           |  CAST(n_test AS BIGINT) AS n_test,
           |  CAST(floor(b * 1.0e9 + 0.5e0) AS BIGINT) AS slope_q,
           |  CAST(floor(a * 1.0e9 + 0.5e0) AS BIGINT) AS intercept_q,
           |  CAST(floor(
           |    (qyy - 2.0e0 * (a * qy + b * qxy)
           |      + (a * a * qn + b * b * qxx + 2.0e0 * (a * b * qx)))
           |      / qn * 1.0e6 + 0.5e0) AS BIGINT) AS test_mse_q
           |FROM ab""".stripMargin
      },
      (s, d) => {
        val f = Tables.events(s, d).select(col("event_type"),
          to_date(col("ts")).as("day"),
          hour(col("ts")).cast("long").as("x"), yq)
        val md = f.groupBy("event_type", "day").agg(
          count(lit(1)).as("n"),
          sum("x").as("lx"), sum(col("x") * col("x")).as("lxx"),
          sum("yq").as("ly"), sum(col("x") * col("yq")).as("lxy"),
          sum(col("yq") * col("yq")).as("lyy"))
        val wOrd = Window.partitionBy("event_type").orderBy("day")
        val wCum = wOrd.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)
        val cum = md.select(col("event_type"), col("day"),
            row_number().over(wOrd).cast("long").as("rn"),
            sum("n").over(wCum).as("cn"),
            sum("lx").over(wCum).as("cx"),
            sum("lxx").over(wCum).as("cxx"),
            sum("ly").over(wCum).as("cy"),
            sum("lxy").over(wCum).as("cxy"),
            sum("lyy").over(wCum).as("cyy"))
          .persist() // |days|-row frame; holdout, marks and picks re-read
        // day count from the CACHED cum frame (max rn == |days|) — via md
        // it would cost a second corpus scan
        val tt = cum.groupBy("event_type").agg(max("rn").as("days"))
          .select(col("event_type"), col("days"),
            expr("days - (days + 4) DIV 5").as("t"))
        val tot = cum.groupBy("event_type").agg(
          max_by(col("cn"), col("rn")).as("tn"),
          max_by(col("cx"), col("rn")).as("tx"),
          max_by(col("cxx"), col("rn")).as("txx"),
          max_by(col("cy"), col("rn")).as("ty"),
          max_by(col("cxy"), col("rn")).as("txy"),
          max_by(col("cyy"), col("rn")).as("tyy"))
        // joined by name: tt and marks derive from cum, so a
        // cum("event_type") === tt("event_type") predicate would compare
        // one attribute with itself
        val hold = cum.join(broadcast(tt), Seq("event_type"))
          .filter(col("rn") === col("t"))
          .drop("days", "t")
          .join(broadcast(tot), Seq("event_type"))
          .select(col("event_type"),
            (col("tn") - col("cn")).as("qn0"),
            (col("tx") - col("cx")).as("qx0"),
            (col("txx") - col("cxx")).as("qxx0"),
            (col("ty") - col("cy")).as("qy0"),
            (col("txy") - col("cxy")).as("qxy0"),
            (col("tyy") - col("cyy")).as("qyy0"))
        val marks = tt.select(col("event_type"), col("days"), col("t"),
            explode(array(lit(25L), lit(50L), lit(75L), lit(100L)))
              .as("frac"))
          .select(col("event_type"), col("days"), col("t"), col("frac"),
            expr("(t * frac + 99) DIV 100").as("kf"))
        val pick = cum.join(broadcast(marks), Seq("event_type"))
          .filter(col("rn") === col("kf"))
          .join(broadcast(hold), Seq("event_type"))
          .select(col("event_type"), col("frac"),
            col("kf").as("train_days"),
            (col("days") - col("t")).as("test_days"),
            col("cn").as("n_train"), col("cn").cast("double").as("sn"),
            col("cx").cast("double").as("sx"),
            col("cxx").cast("double").as("sxx"),
            (col("cy").cast("double") / 100.0).as("sy"),
            (col("cxy").cast("double") / 100.0).as("sxy"),
            col("qn0").as("n_test"), col("qn0").cast("double").as("qn"),
            col("qx0").cast("double").as("qx"),
            col("qxx0").cast("double").as("qxx"),
            (col("qy0").cast("double") / 100.0).as("qy"),
            (col("qxy0").cast("double") / 100.0).as("qxy"),
            (col("qyy0").cast("double") / 10000.0).as("qyy"))
        val b = (col("sn") * col("sxy") - col("sx") * col("sy")) /
          (col("sn") * col("sxx") - col("sx") * col("sx"))
        val fit = pick.withColumn("b", b)
          .withColumn("a", (col("sy") - col("b") * col("sx")) / col("sn"))
        fit.select(col("event_type"), col("frac"), col("train_days"),
          col("test_days"), col("n_train"), col("n_test"),
          q(col("b"), 9).as("slope_q"), q(col("a"), 9).as("intercept_q"),
          floor((col("qyy") - lit(2.0) * (col("a") * col("qy")
              + col("b") * col("qxy"))
            + (col("a") * col("a") * col("qn")
              + col("b") * col("b") * col("qxx")
              + lit(2.0) * (col("a") * col("b") * col("qx"))))
            / col("qn") * lit(1e6) + lit(0.5)).cast("long")
            .as("test_mse_q"))
      }),

    // DUMMY CLASSIFIER CONTROL — the reference's sanity baseline
    // (`data_apis/my_model.py:371-414` `get_dummy_params` /
    // `train_dummy_model`: sklearn DummyClassifier over the temporal
    // split, strategies most_frequent / stratified / uniform), the row
    // every real model's metrics are anchored against. Engine shape:
    // ONE count pass over the corpus (per-group train/test class counts
    // under the chronological cutoff) → a groups-sized frame; the three
    // strategies are an explode over that frame and every metric is
    // closed-form arithmetic on the four counts:
    //  - most_frequent predicts the train-majority class everywhere
    //    (tie → class 0, sklearn's sorted-classes argmax), so accuracy
    //    IS the test share of the train-majority class;
    //  - stratified/uniform are randomized in sklearn; the engine emits
    //    their EXPECTED confusion (q = train prior / 0.5), the
    //    deterministic analog both engines replay exactly.
    // Precision/recall/F1 use sklearn's zero_division=0 convention.
    // Parity: rational arithmetic on exact long counts through one
    // shared IEEE tree, floor-quantized at 1e-9.
    QueryDef(
      "mlprep_dummy",
      Some("""WITH ev AS (
             |  SELECT event_type, CAST(ts AS DATE) AS day,
             |    CASE WHEN value >= 100.0e0 THEN 1 ELSE 0 END AS y
             |  FROM events),
             |c AS (
             |  SELECT CAST(max(day) - INTERVAL 7 DAY AS DATE) AS cutoff
             |  FROM ev),
             |k AS (
             |  SELECT event_type,
             |    CAST(SUM(CASE WHEN day < cutoff THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_train,
             |    CAST(SUM(CASE WHEN day < cutoff THEN y ELSE 0 END)
             |      AS BIGINT) AS pos_train,
             |    CAST(SUM(CASE WHEN day < cutoff THEN 0 ELSE 1 END)
             |      AS BIGINT) AS n_test,
             |    CAST(SUM(CASE WHEN day < cutoff THEN 0 ELSE y END)
             |      AS BIGINT) AS pos_test
             |  FROM ev, c GROUP BY 1),
             |s AS (
             |  SELECT k.*, t.strategy FROM k CROSS JOIN (
             |    VALUES ('most_frequent'), ('stratified'), ('uniform'))
             |    AS t(strategy)),
             |p AS (
             |  SELECT *, CASE
             |    WHEN strategy = 'most_frequent' THEN
             |      CASE WHEN 2 * pos_train > n_train
             |        THEN 1.0e0 ELSE 0.0e0 END
             |    WHEN strategy = 'stratified' THEN
             |      CAST(pos_train AS DOUBLE) / CAST(n_train AS DOUBLE)
             |    ELSE 0.5e0 END AS q
             |  FROM s),
             |m AS (
             |  SELECT event_type, strategy, n_train, pos_train, n_test,
             |    pos_test,
             |    q * CAST(pos_test AS DOUBLE) AS tp,
             |    q * CAST(n_test - pos_test AS DOUBLE) AS fp,
             |    (1.0e0 - q) * CAST(pos_test AS DOUBLE) AS fnn,
             |    (1.0e0 - q) * CAST(n_test - pos_test AS DOUBLE) AS tn
             |  FROM p),
             |f AS (
             |  SELECT *,
             |    (tp + tn) / CAST(n_test AS DOUBLE) AS acc,
             |    CASE WHEN tp + fp = 0.0e0 THEN 0.0e0
             |      ELSE tp / (tp + fp) END AS p1,
             |    CASE WHEN tp + fnn = 0.0e0 THEN 0.0e0
             |      ELSE tp / (tp + fnn) END AS r1
             |  FROM m)
             |SELECT event_type, strategy, n_train, pos_train, n_test,
             |  pos_test,
             |  CAST(floor(acc * 1e9 + 0.5e0) AS BIGINT) AS acc_q,
             |  CAST(floor(p1 * 1e9 + 0.5e0) AS BIGINT) AS p1_q,
             |  CAST(floor(r1 * 1e9 + 0.5e0) AS BIGINT) AS r1_q,
             |  CAST(floor((CASE WHEN p1 + r1 = 0.0e0 THEN 0.0e0
             |    ELSE 2.0e0 * p1 * r1 / (p1 + r1) END) * 1e9 + 0.5e0)
             |    AS BIGINT) AS f1_q
             |FROM f""".stripMargin),
      (s, d) => {
        val ev = Tables.events(s, d).select(col("event_type"),
          to_date(col("ts")).as("day"),
          when(col("value") >= 100.0, 1L).otherwise(0L).as("y"))
        val cutoff = ev.agg(date_sub(max(col("day")), 7).as("cutoff"))
        val k = ev.crossJoin(broadcast(cutoff))
          .withColumn("tr", (col("day") < col("cutoff")).cast("long"))
          .groupBy("event_type").agg(
            sum("tr").as("n_train"),
            sum(col("tr") * col("y")).as("pos_train"),
            sum(lit(1L) - col("tr")).as("n_test"),
            sum((lit(1L) - col("tr")) * col("y")).as("pos_test"))
        val st = k.withColumn("strategy", explode(array(
          lit("most_frequent"), lit("stratified"), lit("uniform"))))
        val prior = when(col("strategy") === "most_frequent",
            when(lit(2L) * col("pos_train") > col("n_train"), lit(1.0))
              .otherwise(lit(0.0)))
          .when(col("strategy") === "stratified",
            col("pos_train").cast("double") / col("n_train").cast("double"))
          .otherwise(lit(0.5))
        val m = st.withColumn("q", prior)
          .select(col("event_type"), col("strategy"), col("n_train"),
            col("pos_train"), col("n_test"), col("pos_test"),
            (col("q") * col("pos_test").cast("double")).as("tp"),
            (col("q") * (col("n_test") - col("pos_test")).cast("double"))
              .as("fp"),
            ((lit(1.0) - col("q")) * col("pos_test").cast("double"))
              .as("fnn"),
            ((lit(1.0) - col("q"))
              * (col("n_test") - col("pos_test")).cast("double")).as("tn"))
        val f = m
          .withColumn("acc",
            (col("tp") + col("tn")) / col("n_test").cast("double"))
          .withColumn("p1", when(col("tp") + col("fp") === 0.0, lit(0.0))
            .otherwise(col("tp") / (col("tp") + col("fp"))))
          .withColumn("r1", when(col("tp") + col("fnn") === 0.0, lit(0.0))
            .otherwise(col("tp") / (col("tp") + col("fnn"))))
        f.select(col("event_type"), col("strategy"), col("n_train"),
          col("pos_train"), col("n_test"), col("pos_test"),
          q(col("acc"), 9).as("acc_q"), q(col("p1"), 9).as("p1_q"),
          q(col("r1"), 9).as("r1_q"),
          q(when(col("p1") + col("r1") === 0.0, lit(0.0))
            .otherwise(lit(2.0) * col("p1") * col("r1")
              / (col("p1") + col("r1"))), 9).as("f1_q"))
      }),

    // MODEL REGISTRY AS A QUERYABLE TABLE — the reference's model-export
    // surface (`data_apis/my_model.py:515-565`
    // `export_best_models_to_mlflow`: persist best models with versions,
    // reload to score) formalized on the repo's transactional table
    // format via operators/ModelRegistry: register v1 (trained on the
    // pre-noon-cut slice, st15's era boundary) then v2 (trained on
    // everything) under one model name, then emit the LISTING (every
    // version's coefficients + n_train + is_latest) joined with a
    // scoring pass that reloads "latest" THROUGH the registry read path
    // and scores the whole corpus with it. A stale latest pointer, a
    // non-monotonic version, or a listing that drops a version all
    // break the hash.
    //
    // Scale shape: the registry is a KB-sized SnapshotTable (atomic
    // commits, versions from committed state — restart-safe); scoring
    // broadcast-joins the model rows; the only data-sized work is the
    // two fit scans and the scoring scan. Parity: the fits replay
    // st15's exact-long-moment Cramer trees; per-row predictions are
    // floor-quantized at 1e-6 then summed as exact longs.
    QueryDef(
      "mlprep_registry",
      Some(s"""WITH b AS (SELECT min(ts) AS t0, max(ts) AS t1 FROM events),
              |k AS (SELECT (epoch_ms(t0) +
              |  (epoch_ms(t1) - epoch_ms(t0) + 1) // 2) AS mid FROM b),
              |c AS (SELECT mid - mid % 86400000 + 43200000 AS cut FROM k),
              |f AS (
              |  ${oFeatures("event_id", "event_type", "epoch_ms(ts) AS tms",
                     "value")}),
              |f1 AS (SELECT f.* FROM f, c WHERE tms < cut),
              |${oFitOls("f1", 1)},
              |${oFitOls("f", 2)},
              |reg AS (SELECT * FROM bb1 UNION ALL SELECT * FROM bb2),
              |sc AS (
              |  SELECT f.event_type,
              |    CAST(count(*) AS BIGINT) AS n_scored,
              |    CAST(SUM(${oQ("bb.b0 + bb.b1 * CAST(f.x1 AS DOUBLE) + " +
                     "bb.b2 * CAST(f.x2 AS DOUBLE)", 6)}) AS BIGINT)
              |      AS pred_sum_q
              |  FROM f JOIN bb2 bb ON f.event_type = bb.event_type
              |  GROUP BY 1)
              |SELECT 'ols' AS model_name, r.version, r.event_type, r.n_train,
              |  ${oQ("r.b0", 9)} AS b0_q,
              |  ${oQ("r.b1", 9)} AS b1_q,
              |  ${oQ("r.b2", 9)} AS b2_q,
              |  CAST(CASE WHEN r.version = 2 THEN 1 ELSE 0 END AS BIGINT)
              |    AS is_latest,
              |  CASE WHEN r.version = 2 THEN sc.n_scored END AS n_scored,
              |  CASE WHEN r.version = 2 THEN sc.pred_sum_q END AS pred_sum_q
              |FROM reg r LEFT JOIN sc ON r.event_type = sc.event_type"""
        .stripMargin),
      (s, d) => {
        val base = graft.Sinks.dir(s, "mlprep_registry", d)
        // fresh registry per invocation — re-runs must re-derive v1/v2,
        // not stack v3/v4 onto a previous run's table
        val bp = new org.apache.hadoop.fs.Path(base)
        val fs = bp.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(bp)) fs.delete(bp, true)
        val regPath = s"$base/registry"
        val ev = Tables.events(s, d)
          .select("event_id", "event_type", "ts", "value")
        val bounds = ev.agg(min("ts"), max("ts")).head()
        val t0 = bounds.getTimestamp(0).getTime
        val t1 = bounds.getTimestamp(1).getTime
        val mid = t0 + (t1 - t0 + 1) / 2
        val cut = mid - math.floorMod(mid, 86400000L) + 43200000L
        import graft.operators.ModelRegistry
        val era1 = ev.filter(col("ts") < timestamp_millis(lit(cut)))
        val v1 = ModelRegistry.register(s, regPath, "ols", fitOls(era1))
        val v2 = ModelRegistry.register(s, regPath, "ols", fitOls(ev))
        require(v1 == 1L && v2 == 2L,
          s"mlprep_registry: version assignment broke ($v1, $v2)")
        val listing = ModelRegistry.list(s, regPath)
        val latest = broadcast(ModelRegistry.latest(s, regPath, "ols")
          .select("event_type", "b0", "b1", "b2"))
        val pred = col("b0") + col("b1") * col("x1").cast("double") +
          col("b2") * col("x2").cast("double")
        val scored = ev
          .withColumn("x1", x1)
          .withColumn("x2", x2)
          .join(latest, Seq("event_type"))
          .select(col("event_type"), q(pred, 6).as("pq"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_scored"), sum("pq").as("pred_sum_q"))
        listing.join(broadcast(scored), Seq("event_type"), "left")
          .select(col("model_name"), col("version"), col("event_type"),
            col("n_train"),
            q(col("b0"), 9).as("b0_q"), q(col("b1"), 9).as("b1_q"),
            q(col("b2"), 9).as("b2_q"), col("is_latest"),
            when(col("is_latest") === 1L, col("n_scored")).as("n_scored"),
            when(col("is_latest") === 1L, col("pred_sum_q"))
              .as("pred_sum_q"))
      }),
  )
}

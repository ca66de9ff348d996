package graft.queries

import graft.{LinearFit, QueryDef, Sinks, Tables}
import graft.streaming.StreamingOps
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** SURVEY §2.9 — the streaming flavors driven through REAL micro-batch
  * execution, hash-verified against declarative batch oracles. The batch
  * twins of these patterns (s12 incremental sync, pl13 merge) have oracle
  * rows already; these rows prove the `readStream` path end-to-end: file
  * source discovery order, watermark advancement across micro-batches,
  * append-mode window finalization, and the checkpointed foreachBatch
  * MERGE sink.
  *
  * Replay policy, the same for every row ([[Replay]]): the input is cut
  * into chunk files whose modification times are spaced a minute apart in
  * feed order, and the file source reads them in modification-time order,
  * ONE file per trigger — so each chunk is one micro-batch and arrival
  * order is data the row controls, not an accident of write latency. Each
  * stream runs under its own shuffle-partition count, sized to stream
  * volume (8; 4 where the fixed per-partition store machinery dominates),
  * set for the run and restored afterwards, and drains under
  * `Trigger.AvailableNow`.
  */
object StreamingQueries {
  import Replay.{bounds, slice}

  /** Recursively drop a scratch root (fresh state per invocation — a
    * leftover checkpoint would make the file source see "no new data"). */
  private def reset(s: SparkSession, dir: String): Unit = {
    val p = new Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    ()
  }

  /** One row's replay: a fresh scratch root under [[Sinks.dir]] holding
    * the fed chunks (`src`), the sink and the checkpoint, and the steps
    * every row takes over them, each written once here. */
  private[graft] final class Replay(s: SparkSession, name: String,
                                    d: String) {
    val base: String = Sinks.dir(s, name, d)
    reset(s, base)
    val src = s"$base/src"
    val sink = s"$base/sink"
    val ckpt = s"$base/ckpt"
    private var fed = 0

    /** Write `chunks` as the next `chunk_<n>.parquet` files — `n` counts
      * on across calls — with modification time `Epoch + n·60 s`, in one
      * job ([[writeChunkFiles]]). */
    def feed(chunks: DataFrame*): Unit = {
      writeChunkFiles(s, chunks.zipWithIndex.map { case (c, i) =>
        (c, s"$src/chunk_${fed + i}.parquet", Replay.Epoch + (fed + i) * 60000L)
      })
      fed += chunks.size
    }

    /** The fed chunks as a stream: one file per micro-batch, in
      * modification-time order. */
    def source(schema: StructType): DataFrame = s.readStream
      .schema(schema).option("maxFilesPerTrigger", "1").parquet(src)

    /** Start a query with the AvailableNow trigger under `partitions`
      * shuffle partitions (plus `conf`) and wait until it has drained
      * every fed file; the session conf is restored afterwards. The
      * partition count is pinned into the checkpoint at first run
      * (fresh per invocation here), so this is also the production
      * shape: pick it per stream, never inherit the batch default. */
    def run(partitions: Int, conf: (String, String)*)(
        start: Trigger => StreamingQuery): Unit =
      Replay.withConf(s,
        ("spark.sql.shuffle.partitions" -> partitions.toString) +: conf: _*) {
        start(Trigger.AvailableNow()).awaitTermination()
      }

    /** The exactly-once parquet append sink at `sink`, fed by `df`
      * (built when the run starts). */
    def toFiles(df: => DataFrame): Trigger => StreamingQuery = t =>
      df.writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(t).start()

    /** What the sink holds. */
    def out: DataFrame = s.read.parquet(sink)
  }

  private[graft] object Replay {
    /** The replay clock's origin (2023-11-14T22:13:20Z): chunk n's
      * modification time is `Epoch + n·60 s`. */
    val Epoch = 1700000000000L

    /** `[t0, t1]`: the first and last `ts` of `df` in epoch ms. */
    def bounds(df: DataFrame): (Long, Long) = {
      val r = df.agg(min("ts"), max("ts")).head()
      (r.getTimestamp(0).getTime, r.getTimestamp(1).getTime)
    }

    /** The rows of `df` whose `ts` lies in `[lo, hi)` epoch ms. */
    def slice(df: DataFrame, lo: Long, hi: Long): DataFrame =
      df.filter(col("ts") >= timestamp_millis(lit(lo)) &&
        col("ts") < timestamp_millis(lit(hi)))

    /** Run `body` with `kvs` set on the session conf; afterwards each key
      * gets back its earlier value, or is unset if it had none. */
    def withConf[T](s: SparkSession, kvs: (String, String)*)(body: => T): T = {
      val prev = kvs.map { case (k, _) => k -> s.conf.getOption(k) }
      kvs.foreach { case (k, v) => s.conf.set(k, v) }
      try body finally prev.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
    }
  }

  /** A cut instant GUARANTEED to split a per-user window or session at
    * any fixture density: the midpoint of the tightest SAME-USER
    * consecutive event pair inside [lo, hi) — same hour when `sameHour`
    * (a (user, 1-hour-window) then has rows on both sides of the cut),
    * else within `maxGapUs` (a session whose gap threshold exceeds it
    * then spans the cut). Dumber choices fail on real fixture geometry:
    * a raw span-fraction cut landed in the dead last minutes of a day at
    * sf0.1 (23:59:40, zero rows after it in its hour) and a fixed :30
    * snap starves at sf0.001's ~1.4 events/hour — while same-user
    * same-hour pairs exist at every SF (49 at sf0.001). The midpoint
    * `(prev+next+1)/2` is strictly after `prev` and at most `next`, so
    * both sides are non-empty by construction. Deterministic: ties on
    * gap break by timestamp. */
  private def cutInsideUserPair(ev: DataFrame, lo: Long, hi: Long,
                                sameHour: Boolean,
                                maxGapUs: Long = Long.MaxValue): Long = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts")
    val pairs = slice(ev, lo, hi)
      .withColumn("prev", lag("ts", 1).over(w))
      .filter(col("prev").isNotNull && col("prev") < col("ts"))
      .withColumn("gap", unix_micros(col("ts")) - unix_micros(col("prev")))
    val eligible =
      if (sameHour) pairs.filter(
        date_trunc("hour", col("prev")) === date_trunc("hour", col("ts")))
      else pairs.filter(col("gap") <= maxGapUs)
    val r = eligible.orderBy(col("gap"), col("ts"), col("user_id")).head()
    (r.getAs[java.sql.Timestamp]("prev").getTime +
      r.getAs[java.sql.Timestamp]("ts").getTime + 1) / 2
  }

  /** Noon (UTC) of the middle day of `[t0, t1]`, not the raw span
    * midpoint: the fixture's events end each day just before midnight,
    * so a raw midpoint lands in the empty minutes near a day boundary —
    * noon leaves both sides non-empty at every SF and splits some
    * (user, day). */
  private def middayCut(t0: Long, t1: Long): Long = {
    val mid = t0 + (t1 - t0 + 1) / 2
    mid - math.floorMod(mid, 86400000L) + 43200000L
  }

  /** Whether some (user, hour) of `ev` has rows on both sides of `cut`.
    * Such a window IS the hour containing the cut, so the scan prunes to
    * that hour before grouping. */
  private def hourSpans(ev: DataFrame, cut: Long): Boolean = {
    val c = timestamp_millis(lit(cut))
    ev.filter(date_trunc("hour", col("ts")) === date_trunc("hour", c))
      .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("w"))
      .agg(sum(when(col("ts") < c, 1L).otherwise(0L)).as("before"),
        sum(when(col("ts") >= c, 1L).otherwise(0L)).as("after"))
      .filter(col("before") > 0 && col("after") > 0).limit(1).count() > 0
  }

  /** One far-future `(user_id, ts, value)` row 30 days after `t1`: fed
    * last, it advances the watermark past every real window (append mode
    * emits a window exactly once, when it finalizes; the sentinel's own
    * window never finalizes and is filtered anyway). */
  private def sentinel(s: SparkSession, t1: Long): DataFrame = {
    import s.implicits._
    Seq((-1L, new java.sql.Timestamp(t1 + 30L * 24 * 3600 * 1000), 0.0))
      .toDF("user_id", "ts", "value")
  }

  /** st1/st7's operator: 1-hour OHLC windows of the fed events, each
    * MERGEd into the sink on (user_id, win_start) via the idempotent
    * keyed insert. The batch IS the (user_id, win_start) aggregate —
    * key-unique by construction, so the sink skips its per-batch dedup
    * shuffle (r13). */
  private def resampleMerge(r: Replay, schema: StructType)(
      t: Trigger): StreamingQuery =
    StreamingOps.mergeSink(StreamingOps.tumblingResample(r.source(schema)),
      sinkPath = r.sink, keyCols = Seq("user_id", "win_start"),
      orderCol = "win_start", checkpoint = r.ckpt, trigger = Some(t),
      sourceKeyUnique = true)

  /** st2/st12's two join sides: the views and the clicks of one fed
    * event stream. Their runs take 4 shuffle partitions, not 8: a
    * stream-stream join keeps FOUR state stores per partition (two per
    * side) and every micro-batch commits all of them; at fixture volume
    * that fixed store machinery is the whole cost. */
  private def viewsAndClicks(r: Replay, schema: StructType)
      : (DataFrame, DataFrame) = {
    def side(tpe: String): DataFrame = r.source(schema)
      .filter(col("event_type") === tpe)
      .select("event_id", "user_id", "ts", "value")
    (side("view"), side("click"))
  }

  /** Write several same-schema chunks as exactly one parquet FILE each,
    * with a pinned modification time, in ONE Spark job: the chunks are
    * unioned under an index column, shuffled so each index lands whole in
    * one task, written with `partitionBy` (one file per index), then the
    * part files are renamed to their targets with pinned mod-times.
    * r13 optimization: per-chunk `coalesce(1)` writes each re-scanned
    * the source and each paid a full job round-trip; the chunked-ingest
    * fixtures are all derived from one frame, so one job suffices. Row
    * ORDER inside a chunk file is shuffle-nondeterministic, which is
    * immaterial: every downstream stateful operator re-shuffles by key
    * before ordering, so within-batch arrival order was never data. */
  private[graft] def writeChunkFiles(s: SparkSession,
                              chunks: Seq[(DataFrame, String, Long)]): Unit = {
    require(chunks.nonEmpty)
    val tagged = chunks.zipWithIndex.map { case ((df, _, _), k) =>
      df.withColumn("__k", lit(k)) }.reduce(_ unionByName _)
    val tmpRoot = chunks.head._2 + "__multi_tmp"
    tagged.repartition(col("__k"))
      .write.mode("overwrite").partitionBy("__k").parquet(tmpRoot)
    val root = new Path(tmpRoot)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    chunks.zipWithIndex.foreach { case ((_, target, mtime), k) =>
      val dir = new Path(tmpRoot, s"__k=$k")
      // an empty chunk writes no partition directory at all
      val part = (if (fs.exists(dir)) fs.listStatus(dir).map(_.getPath)
        else Array.empty[Path])
        .find(_.getName.startsWith("part-"))
        .getOrElse(throw new IllegalStateException(
          s"no part file under $dir — empty chunk $k?"))
      val tgt = new Path(target)
      fs.mkdirs(tgt.getParent)
      require(fs.rename(part, tgt), s"could not move chunk $k to $tgt")
      fs.setTimes(tgt, mtime, -1)
    }
    fs.delete(root, true)
  }

  /** Midnight UTC of 2024-01-01, -11 and -21 in epoch ms: st10's commit
    * slices, which its oracle spells as timestamps, and st9's inner cuts. */
  private def utcDay(day: String): Long = java.time.LocalDate.parse(day)
    .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli
  private val Jan1 = utcDay("2024-01-01")
  private val Jan11 = utcDay("2024-01-11")
  private val Jan21 = utcDay("2024-01-21")

  /** The trend-segmentation oracle (state machine unrolled as a
    * recursive CTE) — shared by st6 (flatMapGroupsWithState) and st13
    * (transformWithState): two stateful APIs, one truth. */
  private val trendOracle: String =
    """WITH RECURSIVE o AS (
      |  SELECT user_id AS key, ts, value,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
      |  FROM events),
      |s AS (
      |  SELECT key, rn, ts, value,
      |    value AS ref, ts AS ref_ts, value AS hi, value AS lo,
      |    1 AS n, FALSE AS crossed,
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
      |    x.cr,
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
      |              ELSE 0.02 END) AS cr) x)
      |SELECT key, ev_start AS start_ts, ts AS end_ts,
      |  ev_open AS open, ev_hi AS high, ev_lo AS low,
      |  value AS close,
      |  CASE WHEN ev_open = 0.0 THEN NULL
      |    ELSE value / ev_open - 1.0 END AS pct_change,
      |  ev_n AS n_points, TRUE AS closed
      |FROM s WHERE crossed""".stripMargin

  val all: Seq[QueryDef] = Seq(

    // ST1: streaming tumbling resample → checkpointed MERGE sink, the
    // streaming twin of s12's incremental-sync pattern (bars.py:74-137:
    // fetch window → ON CONFLICT DO NOTHING load, repeated per poll).
    //
    // Execution is genuinely incremental: the events table is split into
    // TIME-ORDERED single-file chunks discovered one per micro-batch, so
    // the 1-hour OHLC windows form across batch boundaries with a 2-hour
    // watermark; a far-future sentinel file arrives last purely to
    // advance the watermark past every real window.
    // Two data chunks: one boundary is enough to prove the cross-batch
    // window/watermark machinery, and each extra micro-batch costs ~1.5s
    // of fixed checkpoint/MERGE machinery in the bench — the row's cost
    // is that machinery, not data volume.
    // Each emitted window MERGEs into the parquet sink via the idempotent
    // keyed insert ([[graft.operators.MergeUpsert.insertIfAbsent]] on
    // (user_id, win_start)) under a real checkpoint.
    //
    // The oracle is the BATCH aggregate of the same rows — proving the
    // stream's per-batch emission converges to exactly the declarative
    // answer regardless of how the data was batched.
    //
    // Scale shape: state is one row per OPEN (user, hour) window — bounded
    // by the watermark horizon, not the stream length; the sink MERGE is
    // the same keys-only anti-join the batch rows pin (Plans pl13 check).
    QueryDef(
      "st1_stream_merge",
      Some("""SELECT user_id,
             |  time_bucket(INTERVAL '1 hour', ts) AS win_start,
             |  arg_min(value, ts) AS open, max(value) AS high,
             |  min(value) AS low, arg_max(value, ts) AS close,
             |  count(*) AS n_events
             |FROM events
             |GROUP BY 1, 2""".stripMargin),
      (s, d) => {
        val r = new Replay(s, "stream_merge", d)
        val ev = Tables.events(s, d).select("user_id", "ts", "value")
        val (t0, t1) = bounds(ev)
        // interior cut between a same-user same-hour event pair so a
        // (user, window) genuinely forms ACROSS the batch boundary at
        // every SF
        val cut = cutInsideUserPair(ev, t0, t1 + 1, sameHour = true)
        r.feed(slice(ev, t0, cut), slice(ev, cut, t1 + 1), sentinel(s, t1))
        r.run(8)(resampleMerge(r, ev.schema))
        // a (user, window) must have rows in BOTH chunks: the cross-batch
        // window/watermark machinery is the thing this row proves
        require(hourSpans(ev, cut),
          "st1: no window spans the batch boundary — proof is vacuous")
        r.out
          .filter(col("user_id") =!= -1L)
          .select("user_id", "win_start", "open", "high", "low", "close",
            "n_events")
      }),

    // ST2: watermarked stream-stream interval join (the streaming twin of
    // j6) driven through real micro-batches: view events attributed to
    // the click that followed within 1 hour, both sides read from the
    // same chunked file source (one chunk per trigger), joined with
    // per-side watermarks so impression state expires once no qualifying
    // click can still arrive. Inner join in append mode emits each
    // matched pair exactly once — including CROSS-batch pairs (an
    // impression near a chunk boundary must survive in state until its
    // click arrives in the next micro-batch; the watermark math that
    // makes that safe is the thing this row proves end-to-end). The
    // result set is deterministic regardless of batching, so the oracle
    // is the declarative batch interval join; event ids ride along,
    // making each pair unique — the MERGE key of the idempotent sink.
    //
    // Scale shape: state is bounded by the horizon on both sides (never
    // the stream length) and the join shuffles only the two filtered
    // event streams on user_id.
    QueryDef(
      "st2_stream_interval_join",
      Some("""SELECT v.user_id, v.ts AS imp_ts, v.value AS imp_value,
             |  c.ts AS click_ts,
             |  v.event_id AS imp_id, c.event_id AS click_id
             |FROM events v JOIN events c ON v.user_id = c.user_id
             |WHERE v.event_type = 'view' AND c.event_type = 'click'
             |  AND c.ts >= v.ts
             |  AND c.ts <= v.ts + INTERVAL 1 HOUR""".stripMargin),
      (s, d) => {
        val r = new Replay(s, "stream_ssj", d)
        val ev = Tables.events(s, d)
          .select("event_id", "user_id", "ts", "value", "event_type")
          .filter(col("event_type").isin("view", "click"))
        val (t0, t1) = bounds(ev)
        val mid = t0 + (t1 - t0 + 1) / 2
        r.feed(slice(ev, t0, mid), slice(ev, mid, t1 + 1))
        r.run(4) { t =>
          val (views, clicks) = viewsAndClicks(r, ev.schema)
          StreamingOps.mergeSink(
            StreamingOps.streamingIntervalJoin(views, clicks,
              horizon = "1 hour"),
            sinkPath = r.sink,
            keyCols = Seq("imp_id", "click_id"), orderCol = "imp_id",
            checkpoint = r.ckpt, trigger = Some(t),
            // one row per matched (imp, click) event-id pair — key-unique
            // by construction (r13)
            sourceKeyUnique = true)
        }
        r.out
          .select("user_id", "imp_ts", "imp_value", "click_ts",
            "imp_id", "click_id")
      }),

    // ST3: watermarked streaming exact dedup (the streaming twin of
    // dd1/u2's keep-first semantics) driven through real micro-batches.
    // Documents get deterministic event times (base + doc_id seconds —
    // the whole span is ≪ the 2-hour horizon, so every injected duplicate
    // is dropped by dedup STATE, never by late-arrival filtering); the
    // corpus is split into two time-ordered chunks discovered one per
    // trigger, and chunk 1 carries exact copies of every 5th chunk-0
    // document — duplicates that cross the batch boundary, provable only
    // if the dedup state survives between micro-batches. The sink is the
    // NATIVE exactly-once parquet file sink (st1/st2 prove foreachBatch;
    // this row proves the transactional file-sink path). Output is the
    // kept hash set: first-arrival wins, so re-keying on the 16-byte md5
    // BEFORE the stateful operator makes the result deterministic
    // regardless of within-batch arrival order — and means the state
    // store and its shuffle never carry document text (the batch dedup
    // family's hash-first rule; at 100 TB the state is |distinct|×16
    // bytes bounded by the watermark horizon, not the stream).
    //
    // The oracle is batch DISTINCT over the same corpus: a duplicate
    // surviving (state loss across batches) or a first arrival dropped
    // (over-eager state expiry) both break the row-count/hash compare.
    QueryDef(
      "st3_stream_dedup",
      Some("SELECT DISTINCT md5(text) AS text_hash FROM documents"),
      (s, d) => {
        val r = new Replay(s, "stream_dedup", d)
        val docs = Tables.documents(s, d).select("doc_id", "text")
        val withTs = docs.withColumn("ts",
          timestamp_millis(lit(Replay.Epoch) + col("doc_id") * 1000L))
        val mid = docs.agg(max("doc_id")).head().getLong(0) / 2
        val chunk0 = withTs.filter(col("doc_id") <= mid)
        // cross-batch duplicates: every 5th chunk-0 doc re-arrives 30 min
        // later (well inside the horizon) in the SECOND micro-batch
        val dups = chunk0.filter(col("doc_id") % 5 === 0)
          .withColumn("ts", col("ts") + expr("INTERVAL 30 MINUTES"))
        val chunk1 = withTs.filter(col("doc_id") > mid).unionAll(dups)
        r.feed(chunk0, chunk1)
        r.run(8)(r.toFiles(StreamingOps.streamingDedup(
          r.source(chunk0.schema), horizon = "2 hours").select("text_hash")))
        val out = r.out
        // non-vacuity: duplicates were actually fed, and none survived
        val nDistinct = docs.select("text").distinct().count()
        val nFed = chunk0.count() + chunk1.count()
        require(nFed > nDistinct,
          s"st3 fed $nFed rows but only $nDistinct distinct — no dups fed")
        out.select("text_hash")
      }),

    // ST4: stateful gap sessionization (flatMapGroupsWithState) driven
    // through real micro-batches — the streaming twin of pl2 and the
    // closest thing to the reference's path-dependent state machines
    // (TrendEvents) running AS A STREAM. Events are split into two
    // time-ordered chunks (one per trigger); a session whose events
    // straddle the chunk cut exists in the sink as ONE row only if the
    // open-session state survives the batch boundary and is extended by
    // the next batch (a split session changes row count and hashes red).
    // Closed sessions are emitted exactly once (Append mode). The still-
    // open session per key closes by EVENT-TIME timeout: when the
    // watermark (0s delay → max event time seen) passes session_end+gap,
    // no event can extend it, so the final watermark-advance batch emits
    // it. Deterministically, the only sessions NOT in the sink are each
    // user's LAST session when the stream ends within its gap horizon
    // (session_end + 6h >= global max ts) — exactly the rows the oracle's
    // QUALIFY excludes. (Processing-time timeouts are unusable here: they
    // make shouldRunAnotherBatch true unconditionally, so AvailableNow
    // spins empty micro-batches forever instead of terminating.)
    //
    // Float parity: values are quantized to exact hundredths BEFORE the
    // stream (integer-valued doubles sum exactly, in any order, while
    // |Σ| < 2^53) and de-scaled once after the sink read — the mix/lq
    // doctrine applied to sequential state accumulation. Time parity:
    // state tracks epoch MILLIS (Timestamp.getTime), so the oracle's gap
    // predicate and session bounds use ms-truncated timestamps
    // (date_diff('millisecond') // 1000, date_trunc to ms).
    //
    // Scale shape: state is ONE open session (4 numbers) per active key,
    // bounded by key cardinality, not stream length; the only shuffle is
    // the groupByKey on user_id.
    QueryDef(
      "st4_stream_sessionize",
      Some("""WITH tagged AS (
             |  SELECT user_id, ts,
             |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS vq,
             |    CASE WHEN lag(ts) OVER
             |        (PARTITION BY user_id ORDER BY ts) IS NULL
             |      OR date_diff('microsecond',
             |            lag(ts) OVER (PARTITION BY user_id ORDER BY ts),
             |            ts) > 21600000000
             |    THEN 1 ELSE 0 END AS is_new
             |  FROM events),
             |sess AS (
             |  SELECT user_id, ts, vq,
             |    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS BIGINT) AS sid
             |  FROM tagged),
             |agg AS (
             |  SELECT user_id, sid,
             |    date_trunc('milliseconds', min(ts)) AS session_start,
             |    date_trunc('milliseconds', max(ts)) AS session_end,
             |    count(*) AS n_events,
             |    CAST(SUM(vq) AS DOUBLE) / 100.0 AS value_sum
             |  FROM sess GROUP BY 1, 2),
             |mx AS (
             |  SELECT date_trunc('milliseconds', max(ts)) AS max_ts
             |  FROM events)
             |SELECT user_id, session_start, session_end, n_events,
             |  value_sum
             |FROM agg, mx
             |QUALIFY sid < max(sid) OVER (PARTITION BY user_id)
             |  OR date_diff('millisecond', session_end, max_ts)
             |     > 21600000""".stripMargin),
      (s, d) => {
        val r = new Replay(s, "stream_sess", d)
        val ev = Tables.events(s, d).select(col("user_id"), col("ts"),
          floor(col("value") * 100.0 + 0.5).cast("double").as("value"))
        val (t0, t1) = bounds(ev)
        // cut between a same-user pair with gap <= 6 h: that user's
        // session provably spans the batch boundary at every SF
        val cut = cutInsideUserPair(ev, t0, t1 + 1, sameHour = false,
          maxGapUs = 21600L * 1000000L)
        r.feed(slice(ev, t0, cut), slice(ev, cut, t1 + 1))
        r.run(8)(r.toFiles {
          import s.implicits._
          StreamingOps.sessionize(
              r.source(ev.schema).withWatermark("ts", "0 seconds")
                .as[StreamingOps.Ev],
              gapSeconds = 21600L)
            .toDF()
        })
        val out = r.out
        // the cross-batch proof: at least one emitted session began
        // before the chunk cut and ended at/after it — state that
        // survived the micro-batch boundary and was extended there
        val crossing = out.filter(
          col("session_start") < timestamp_millis(lit(cut)) &&
            col("session_end") >= timestamp_millis(lit(cut))).count()
        require(crossing > 0,
          "st4: no session crosses the batch boundary — proof is vacuous")
        out.select(col("user_id"), col("session_start"),
          col("session_end"), col("n_events"),
          (col("value_sum") / 100.0).as("value_sum"))
      }),

    // ST5: streaming HLL distinct-count maintenance driven through real
    // micro-batches — the streaming form of the a33 sketch family. Each
    // micro-batch max-merges its rows into the per-group 256-register
    // state and emits the refreshed estimate (Update mode → foreachBatch
    // landing each emission under its batch id); the LAST emission per
    // group is the sketch over the union of every batch, and because
    // registers are max-folds the estimate is BIT-EQUAL to the batch a33
    // column expression over the same rows regardless of how the stream
    // was batched (StreamingHllSpec pins streaming ≡ batch; this row
    // closes the loop against the independent DuckDB implementation of
    // the same register/estimate algebra). n_total rides along as the
    // exactness witness: state must have seen every row exactly once.
    //
    // Scale shape: 256 bytes + one long per group FOREVER — streaming
    // distinct-count with bounded state and no distinct shuffle, the
    // thing watermarked dropDuplicates cannot give once its horizon
    // passes (contrast st3, whose state is hash-set-sized and
    // horizon-bounded by design).
    QueryDef(
      "st5_stream_hll",
      Some {
        s"""WITH ${AggQueries.oHllUserCtes},
           |n AS (
           |  SELECT event_type, count(*) AS n_total
           |  FROM events GROUP BY 1)
           |SELECT n.event_type, est.est AS hll_estimate, n.n_total
           |FROM n JOIN est ON n.event_type = est.event_type"""
          .stripMargin
      },
      (s, d) => {
        val r = new Replay(s, "stream_hll", d)
        val ev = Tables.events(s, d).select("user_id", "ts", "event_type")
        val (t0, t1) = bounds(ev)
        val cut = t0 + (t1 - t0 + 1) / 2
        r.feed(slice(ev, t0, cut), slice(ev, cut, t1 + 1))
        r.run(8)(t => StreamingOps.streamingHll(r.source(ev.schema))
          .toDF()
          .writeStream
          .option("checkpointLocation", r.ckpt)
          .foreachBatch { (batch: DataFrame, id: Long) =>
            if (!batch.isEmpty)
              batch.write.mode("overwrite").parquet(s"${r.sink}/b=$id")
            ()
          }
          .outputMode("update")
          .trigger(t)
          .start())
        val emissions = s.read.option("basePath", r.sink).parquet(r.sink)
        // ≥ 2 batch generations must have landed, or the merge law was
        // never exercised across a boundary
        require(emissions.select("b").distinct().count() >= 2,
          "st5: fewer than 2 micro-batch emissions — merge proof vacuous")
        emissions.groupBy("event_type")
          .agg(max_by(col("estimate"), col("b")).as("hll_estimate"),
               max_by(col("n_total"), col("b")).as("n_total"))
      }),

    // ST6: the reference's path-dependent trend state machine
    // (my_alpaca.py:19-111, pl5's operator) running AS A STREAM — the
    // deepest cross-batch state proof on the board: not an algebraic
    // fold (st5's max-registers) or a gap test (st4), but a full
    // path-dependent machine whose reference price, running extrema, and
    // point count must survive the micro-batch boundary EXACTLY or
    // downstream events shift their open/high/low/close and hash red.
    // Events are split into two time-ordered chunks discovered one per
    // trigger; segments straddling the cut (require below) prove the
    // open-segment state carried over and was extended, and every
    // post-cut segment inherits its reference price from pre-cut state.
    //
    // Emission: closed segments only, exactly once, when the crossing row
    // arrives (Append). Each key's final open segment stays in state —
    // a price band has no time horizon after which it provably cannot
    // close, so no watermark timeout can emit it deterministically; the
    // oracle is therefore pl5's recursive-CTE state machine WITHOUT its
    // open_ev branch. Float parity is pl5's: identical IEEE ops
    // (p/ref−1, greatest/least), no accumulation.
    QueryDef(
      "st6_stream_trend",
      Some(trendOracle),
      (s, d) => {
        val r = new Replay(s, "stream_trend", d)
        val ev = Tables.events(s, d).select(
          col("user_id").cast("long").as("key"), col("ts"),
          col("value").cast("double").as("price"))
        val (t0, t1) = bounds(ev)
        val cut = t0 + (t1 - t0 + 1) / 2
        r.feed(slice(ev, t0, cut), slice(ev, cut, t1 + 1))
        r.run(8)(r.toFiles {
          import s.implicits._
          StreamingOps.streamingTrend(
              r.source(ev.schema).as[graft.operators.TrendEvents.PricePoint])
            .toDF()
        })
        val out = r.out
        // cross-batch proof: at least one closed segment began before the
        // chunk cut and closed at/after it — its reference price, extrema,
        // and count crossed the micro-batch boundary in state
        val crossing = out.filter(
          col("start_ts") < timestamp_millis(lit(cut)) &&
            col("end_ts") >= timestamp_millis(lit(cut))).count()
        require(crossing > 0,
          "st6: no segment crosses the batch boundary — proof is vacuous")
        out.select("key", "start_ts", "end_ts", "open", "high", "low",
          "close", "pct_change", "n_points", "closed")
      }),

    // ST7: checkpoint RECOVERY — the production property the other st
    // rows assume but don't prove: a streaming query STOPPED and
    // RESTARTED as a brand-new query object over the same checkpoint
    // resumes exactly where it left off. Run 1 drains two time-ordered
    // chunks (its windowed-agg state holds every window the watermark
    // hasn't passed) and terminates; run 2 — a separate
    // start()/awaitTermination() lifecycle — discovers only the unseen
    // files (source offsets from the checkpoint), restores the window
    // state (state store) and the watermark (commit log), extends
    // windows that straddle the shutdown boundary with run-2 rows, and a
    // far-future sentinel flushes everything still open. The sink after
    // BOTH runs must equal the batch aggregate of all chunks: a lost
    // window (state not restored), a double-counted chunk (offsets not
    // restored), or a watermark reset (windows re-emitted, MERGE would
    // hide count drift but open/close values would differ) all hash red.
    //
    // Non-vacuity requires: run 1's sink is a strict subset of the final
    // answer (the restart did real work), and some window spans the
    // run boundary with events on both sides (state genuinely extended
    // across the shutdown, not just flushed).
    //
    // Scale shape: identical to st1 — this row adds no new operator
    // cost, it proves the recovery contract of the same plan.
    QueryDef(
      "st7_stream_restart",
      Some("""SELECT user_id,
             |  time_bucket(INTERVAL '1 hour', ts) AS win_start,
             |  arg_min(value, ts) AS open, max(value) AS high,
             |  min(value) AS low, arg_max(value, ts) AS close,
             |  count(*) AS n_events
             |FROM events
             |GROUP BY 1, 2""".stripMargin),
      (s, d) => {
        val r = new Replay(s, "stream_restart", d)
        val ev = Tables.events(s, d).select("user_id", "ts", "value")
        val (t0, t1) = bounds(ev)
        // the RESTART boundary c2 splits a same-user same-hour pair in
        // the upper two thirds so a (user, window) provably spans it at
        // every SF; c1 needs no such guarantee and halves the lower span
        val c2 = cutInsideUserPair(ev, t0 + (t1 - t0 + 1) / 3, t1 + 1,
          sameHour = true)
        val c1 = t0 + (c2 - t0) / 2

        // run 1: chunks 0 and 1 only
        r.feed(slice(ev, t0, c1), slice(ev, c1, c2))
        r.run(8)(resampleMerge(r, ev.schema))
        val afterRun1 = r.out.filter(col("user_id") =!= -1L).count()

        // run 2: a NEW query over the SAME checkpoint sees only the new
        // files — the last data chunk plus the watermark-flushing sentinel
        r.feed(slice(ev, c2, t1 + 1), sentinel(s, t1))
        r.run(8)(resampleMerge(r, ev.schema))

        val out = r.out.filter(col("user_id") =!= -1L)
        require(afterRun1 < out.count(),
          s"st7: run 1 already emitted everything ($afterRun1 windows) — " +
            "the restart proved nothing")
        // a window spanning the shutdown boundary received rows in BOTH
        // runs: its state crossed the stop/restart, not just the flush
        require(hourSpans(ev, c2),
          "st7: no window spans the restart boundary — proof is vacuous")
        out.select("user_id", "win_start", "open", "high", "low", "close",
          "n_events")
      }),

    // ST8: streaming bronze → Gold incremental refresh — the last
    // StreamingOps surface without an end-to-end oracle row. Each
    // micro-batch of raw bars (time-ordered chunked file source, one file
    // per trigger) lands in bronze (batch-deterministic batch_id=N
    // overwrite) and incrementally refreshes ONLY the touched Gold rows
    // (IncrementalGold: affected users × bounded 22-day lookback), merged
    // into the partitioned gold table with a source-wins upsert. After the
    // stream drains, the gold TABLE on disk must hash-equal the one-shot
    // batch feature battery over ALL events — the same goldOracleSql that
    // pins pl14/pl16, now proving a THIRD composition: per-batch bounded
    // recompute through real checkpointed micro-batch execution converges
    // to the declarative answer.
    //
    // Non-vacuity: requires ≥2 bronze batch generations (the refresh
    // genuinely iterated) and that the chunk boundary SPLITS at least one
    // (user, day) — so batch 2's refresh must UPDATE gold rows batch 1
    // already wrote (a MERGE update, not a pure insert; a sink that
    // ignored conflicts would keep batch 1's partial-day features and
    // hash red).
    //
    // Scale shape: per-batch cost is O(affected users × lookback),
    // independent of history depth — the property that makes a daily
    // 100 TB gold refresh affordable; all joins inside the refresh are
    // broadcast batch-sized dims (plan doctrine of IncrementalGold).
    QueryDef(
      "st8_stream_gold",
      Some(PipelineQueries.goldOracleSql),
      (s, d) => {
        val r = new Replay(s, "stream_gold", d)
        val ev = Tables.events(s, d).select("user_id", "ts", "value")
        val (t0, t1) = bounds(ev)
        val cut = middayCut(t0, t1)
        r.feed(slice(ev, t0, cut), slice(ev, cut, t1 + 1))
        // the cut must split some (user, day): batch 2 then refreshes a
        // day batch 1 already materialized, exercising the MERGE-update
        // path (not just appends). r13: a (user, day) split by the cut
        // necessarily lives on the cut's own day — prune the scan to it
        // (identical count, see hourSpans).
        val split = ev
          .filter(to_date(col("ts")) ===
            to_date(timestamp_millis(lit(cut))))
          .groupBy(col("user_id"), to_date(col("ts")).as("day"))
          .agg(
            sum(when(col("ts") < timestamp_millis(lit(cut)), 1L)
              .otherwise(0L)).as("before"),
            sum(when(col("ts") >= timestamp_millis(lit(cut)), 1L)
              .otherwise(0L)).as("after"))
          .filter(col("before") > 0 && col("after") > 0).count()
        require(split > 0,
          "st8: no (user, day) spans the batch boundary — the refresh " +
            "update path is untested, proof is vacuous")

        r.run(8)(t => StreamingOps.goldSink(
          r.source(ev.schema), bronzePath = s"${r.base}/bronze",
          goldPath = s"${r.base}/gold", checkpoint = r.ckpt,
          trigger = Some(t)))
        val fs = new Path(s"${r.base}/bronze")
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        val gens = fs.listStatus(new Path(s"${r.base}/bronze"))
          .count(_.getPath.getName.startsWith("batch_id="))
        require(gens >= 2,
          s"st8: only $gens bronze batch generation(s) — the incremental " +
            "refresh never iterated, proof is vacuous")
        s.read.parquet(s"${r.base}/gold")
      }),

    // ST9: the snapshot table as a STREAMING SOURCE
    // (sources/SnapshotStreamSource — offsets are committed VERSIONS,
    // each micro-batch is the manifest set-difference of data files):
    // the streaming completion of u8's incremental append scan and the
    // Delta/Iceberg streaming-source pattern. Three append commits land
    // BETWEEN three separate stream lifecycles over one checkpoint: each
    // run must deliver exactly the rows its new commits added — the
    // version offset restores from the checkpoint (the SerializedOffset
    // decode path), nothing is re-read, nothing is skipped. The sink is
    // the idempotent keyed MERGE, the oracle the declarative whole-table
    // slice union.
    //
    // Non-vacuity: the sink count after each run must equal the exact
    // prefix-slice count — a re-delivered batch (offset not restored) or
    // a skipped commit (offset overshot) both fail the equality before
    // the hash ever runs.
    //
    // Scale shape: each batch costs the appended bytes (file list decided
    // from manifest metadata, never a table scan), and a rewritten chain
    // (compaction/upsert between offsets) fails loudly instead of
    // silently re-delivering rewritten rows.
    QueryDef(
      "st9_snapshot_tail",
      Some("""SELECT event_id, user_id, value FROM events"""),
      (s, d) => {
        import graft.operators.SnapshotTable
        val r = new Replay(s, "snap_tail", d)
        val t = s"${r.base}/table"
        val ev = Tables.events(s, d).select("event_id", "user_id", "ts",
          "value")
        val (t0, t1) = bounds(ev)
        def part(lo: Long, hi: Long) = slice(ev, lo, hi).drop("ts")
        val s1 = part(t0, Jan11)
        val s2 = part(Jan11, Jan21)
        val s3 = part(Jan21, t1 + 1)

        def runOnce(): Unit = r.run(8)(tr =>
          s.readStream.format("snapshot-table").option("path", t).load()
            .writeStream
            .foreachBatch { (b: DataFrame, _: Long) =>
              graft.operators.MergeUpsert.insertIfAbsent(
                b.sparkSession, b, r.sink,
                keyCols = Seq("event_id"), orderCol = "event_id",
                // commit slices are event_id-unique by construction (r13)
                sourceKeyUnique = true)
              ()
            }
            .option("checkpointLocation", r.ckpt)
            .outputMode("append")
            .trigger(tr)
            .start())

        SnapshotTable.commit(s, s1, t)
        runOnce()
        val n1 = r.out.count()
        require(n1 == s1.count(),
          s"st9: run 1 delivered $n1 rows, expected exactly v1's slice")
        SnapshotTable.commit(s, s2, t, replace = false)
        runOnce()
        val n2 = r.out.count()
        require(n2 == n1 + s2.count(),
          s"st9: run 2 delivered ${n2 - n1} new rows, expected exactly " +
            "v2's appended slice — the checkpointed version offset did " +
            "not resume correctly")
        SnapshotTable.commit(s, s3, t, replace = false)
        runOnce()
        r.out.select("event_id", "user_id", "value")
      }),

    // ST10: CHANGE DATA FEED — the snapshot table's commits tailed as
    // TYPED change rows (Delta CDF / Iceberg changelog shape): appends
    // stream as change_op='insert'; a merge-on-read DELETE commit (u9's
    // deleteWhere) streams its key file as change_op='delete' rows (key
    // column set, the rest null). Without this mode a delete commit is
    // an empty batch and every downstream tail silently diverges from
    // the table's merge-on-read state — st10 proves the divergence is
    // closed: three checkpointed AvailableNow runs (seed → delete →
    // append), each resuming from the version offset, and the
    // accumulated CDC log hash-matches the declarative
    // inserts ∪ delete-keys oracle.
    //
    // Scale shape: an insert batch costs the appended bytes (manifest
    // set-difference), a delete batch costs the KEY FILE's bytes —
    // tailing a 100 TB table's deletes never touches the data files.
    QueryDef(
      "st10_change_feed",
      Some("""WITH a AS (
             |  SELECT event_id, user_id, value FROM events
             |  WHERE ts < TIMESTAMP '2024-01-11'),
             |b AS (
             |  SELECT event_id, user_id, value FROM events
             |  WHERE ts >= TIMESTAMP '2024-01-11'
             |    AND ts < TIMESTAMP '2024-01-21'),
             |del AS (
             |  SELECT DISTINCT event_id FROM a WHERE event_id % 5 = 0)
             |SELECT event_id, user_id, value, 'insert' AS change_op
             |FROM a
             |UNION ALL
             |SELECT event_id, user_id, value, 'insert' AS change_op
             |FROM b
             |UNION ALL
             |SELECT event_id, CAST(NULL AS BIGINT) AS user_id,
             |  CAST(NULL AS DOUBLE) AS value, 'delete' AS change_op
             |FROM del""".stripMargin),
      (s, d) => {
        import graft.operators.SnapshotTable
        val r = new Replay(s, "cdc_tail", d)
        val t = s"${r.base}/table"
        val ev = Tables.events(s, d).select("event_id", "user_id", "ts",
          "value")
        val s1 = slice(ev, Jan1, Jan11).drop("ts")
        val s2 = slice(ev, Jan11, Jan21).drop("ts")
        def runOnce(): Unit = r.run(8)(r.toFiles(
          s.readStream.format("snapshot-table")
            .option("path", t).option("changeFeed", "true").load()))
        SnapshotTable.commit(s, s1, t)
        runOnce()
        SnapshotTable.deleteWhere(s, t, "event_id",
          col("event_id") % 5 === 0)
        runOnce()
        val nDel = r.out.filter(col("change_op") === "delete").count()
        require(nDel > 0,
          "st10: the delete commit produced no CDC delete rows — the " +
            "change feed is not surfacing merge-on-read deletes")
        SnapshotTable.commit(s, s2, t, replace = false)
        runOnce()
        r.out.select("event_id", "user_id", "value", "change_op")
      }),

    // ST11: STREAM-STATIC dimension enrichment — the join class st1–st10
    // don't cover: a micro-batched stream joined to a batch table that is
    // a SLOWLY CHANGING dimension. The property proven end-to-end: the
    // static side is resolved per RUN, so rows arriving after the dim
    // changes join the NEW version while already-sunk rows keep the old
    // one — exactly-once across the restart via the transactional file
    // sink + checkpoint (st7's pattern), enrichment correctness via the
    // declarative two-era oracle (chunk 1 × dim v1 ∪ chunk 2 × dim v2,
    // the cut written into the SQL as noon of the middle day).
    //
    // Scale shape: the dim rides the stream-static BROADCAST hash join
    // inside every micro-batch (asserted: nation keys from both eras in
    // the sink); the stream is never re-keyed for the join.
    QueryDef(
      "st11_stream_static_join",
      Some("""WITH b AS (SELECT min(ts) AS t0, max(ts) AS t1 FROM events),
             |k AS (SELECT (epoch_ms(t0) +
             |  (epoch_ms(t1) - epoch_ms(t0) + 1) // 2) AS mid FROM b),
             |c AS (SELECT mid - mid % 86400000 + 43200000 AS cut FROM k)
             |SELECT e.event_id, e.user_id,
             |  CAST(cu.c_nationkey AS BIGINT) AS nation_key, e.value
             |FROM events e JOIN customer cu ON e.user_id = cu.c_custkey, c
             |WHERE epoch_ms(e.ts) < c.cut
             |UNION ALL
             |SELECT e.event_id, e.user_id,
             |  CAST(cu.c_nationkey + 100 AS BIGINT) AS nation_key, e.value
             |FROM events e JOIN customer cu ON e.user_id = cu.c_custkey, c
             |WHERE epoch_ms(e.ts) >= c.cut""".stripMargin),
      (s, d) => {
        val r = new Replay(s, "stream_dimjoin", d)
        val dimDir = s"${r.base}/dim"
        val ev = Tables.events(s, d)
          .select("event_id", "user_id", "ts", "value")
        val (t0, t1) = bounds(ev)
        // both eras provably non-empty at every SF
        val cut = middayCut(t0, t1)
        def dim(bump: Int): DataFrame = Tables.customer(s, d)
          .select(col("c_custkey").as("user_id"),
            (col("c_nationkey").cast("long") + bump).as("nation_key"))
        def runOnce(): Unit = r.run(8)(r.toFiles(
          r.source(ev.schema)
            // resolved here, inside the run: each restart re-reads the
            // CURRENT dim state (the slowly-changing-dimension contract)
            .join(broadcast(s.read.parquet(dimDir)), Seq("user_id"))
            .select("event_id", "user_id", "nation_key", "value")))
        // era 1: dim v1, first chunk only
        dim(0).write.mode("overwrite").parquet(dimDir)
        r.feed(slice(ev, t0, cut))
        runOnce()
        // the dim changes, THEN the second chunk arrives
        dim(100).write.mode("overwrite").parquet(dimDir)
        r.feed(slice(ev, cut, t1 + 1))
        runOnce()
        val out = r.out
        // both eras must be present — a degenerate cut (or a dim frozen
        // at either version) makes the proof vacuous
        require(out.filter(col("nation_key") < 100).count() > 0 &&
          out.filter(col("nation_key") >= 100).count() > 0,
          "st11: sink does not contain both dimension eras")
        out.select("event_id", "user_id", "nation_key", "value")
      }),

    // ST12: stream-stream LEFT OUTER interval join — st2's attribution
    // with the half the inner join cannot answer: impressions that got
    // NO click. The null-row emission is the subtle semantics being
    // proven: an unmatched impression may only emit once the CLICK-side
    // watermark passes imp_ts + horizon (before that, a match could
    // still arrive — emitting earlier would be wrong, never emitting is
    // the common silent failure). Tail impressions would sit in state
    // forever at stream end, so a final sentinel chunk (one far-future
    // row per side, filtered from the result) advances the watermark
    // past every real row's horizon — the st1 finalize pattern applied
    // to join state eviction. Result is batching-invariant, so the
    // oracle is the declarative batch LEFT JOIN.
    //
    // Scale shape: identical state bound to st2 (horizon-bounded, both
    // sides keyed on user_id); the outer emission is the state-eviction
    // path, so it adds no memory.
    QueryDef(
      "st12_stream_left_join",
      Some("""SELECT v.user_id, v.ts AS imp_ts, v.value AS imp_value,
             |  c.ts AS click_ts,
             |  v.event_id AS imp_id, c.event_id AS click_id
             |FROM events v LEFT JOIN events c ON v.user_id = c.user_id
             |  AND c.event_type = 'click'
             |  AND c.ts >= v.ts
             |  AND c.ts <= v.ts + INTERVAL 1 HOUR
             |WHERE v.event_type = 'view'""".stripMargin),
      (s, d) => {
        val r = new Replay(s, "stream_ssjl", d)
        val ev = Tables.events(s, d)
          .select("event_id", "user_id", "ts", "value", "event_type")
          .filter(col("event_type").isin("view", "click"))
        val (t0, t1) = bounds(ev)
        val mid = t0 + (t1 - t0 + 1) / 2
        // sentinel rows: one view + one click at t1 + 3 h push BOTH
        // side watermarks past every real imp_ts + 1 h horizon, so every
        // real unmatched impression's null row is forced out of state.
        // They ride INSIDE the last data chunk (watermarks take effect
        // at end-of-batch, so the eviction still lands in the following
        // no-data micro-batch) — a separate sentinel chunk would buy a
        // whole extra MERGE cycle for nothing.
        import s.implicits._
        val sentinels = Seq(
          (-1L, -999L, new java.sql.Timestamp(t1 + 3 * 3600 * 1000L),
            0.0, "view"),
          (-2L, -999L, new java.sql.Timestamp(t1 + 3 * 3600 * 1000L),
            0.0, "click"))
          .toDF("event_id", "user_id", "ts", "value", "event_type")
        r.feed(slice(ev, t0, mid),
          slice(ev, mid, t1 + 1).unionByName(sentinels))
        r.run(4) { t =>
          val (views, clicks) = viewsAndClicks(r, ev.schema)
          val joined = StreamingOps.streamingIntervalJoin(views, clicks,
            horizon = "1 hour", joinType = "left_outer")
          // null click_id breaks a MERGE key, so key on imp_id alone:
          // each impression emits exactly one FINAL disposition row per
          // (imp, click) pair — imp_id+click_id for matches, imp_id+null
          // once for no-click — and coalesce(click_id, -1) restores key
          // totality
          val keyed = joined.withColumn("merge_click",
            coalesce(col("click_id"), lit(-1L)))
          StreamingOps.mergeSink(
            keyed, sinkPath = r.sink,
            keyCols = Seq("imp_id", "merge_click"), orderCol = "imp_id",
            checkpoint = r.ckpt, trigger = Some(t),
            // exactly one final disposition row per (imp, merge_click) —
            // key-unique by construction (r13)
            sourceKeyUnique = true)
        }
        val out = r.out
          .filter(col("user_id") >= 0) // drop the sentinel's own rows
        // non-vacuity: the outer half actually emitted — unmatched
        // impressions exist at every fixture SF, and each must appear
        // with a null click
        require(out.filter(col("click_id").isNull).count() > 0,
          "st12: no null-click rows — outer emission never fired")
        out.select("user_id", "imp_ts", "imp_value", "click_ts",
          "imp_id", "click_id")
      }),

    // ST13: the trend state machine through Spark 4's
    // `transformWithState` — the modern arbitrary-stateful API
    // (StatefulProcessor + typed ValueState over the RocksDB state
    // store) that succeeds st6's flatMapGroupsWithState. Same chunked
    // micro-batch drive, same cross-batch-segment non-vacuity check,
    // and the SAME recursive-CTE oracle as st6: two stateful APIs, one
    // truth — if either API's state handling drifts (ordering, state
    // restore, emission), its hash diverges from the shared oracle.
    QueryDef(
      "st13_trend_tws",
      Some(trendOracle),
      (s, d) => {
        val r = new Replay(s, "stream_tws", d)
        val ev = Tables.events(s, d).select(
          col("user_id").cast("long").as("key"), col("ts"),
          col("value").cast("double").as("price"))
        val (t0, t1) = bounds(ev)
        val cut = t0 + (t1 - t0 + 1) / 2
        r.feed(slice(ev, t0, cut), slice(ev, cut, t1 + 1))
        // transformWithState keeps its state variables in RocksDB column
        // families — the provider is a per-stream requirement, pinned
        // into the checkpoint at first run like the partition count
        r.run(8, "spark.sql.streaming.stateStore.providerClass" ->
            ("org.apache.spark.sql.execution.streaming" +
              ".state.RocksDBStateStoreProvider"))(r.toFiles {
          import s.implicits._
          StreamingOps.streamingTrendTws(
              r.source(ev.schema).as[graft.operators.TrendEvents.PricePoint])
            .toDF()
        })
        val out = r.out
        val crossing = out.filter(
          col("start_ts") < timestamp_millis(lit(cut)) &&
            col("end_ts") >= timestamp_millis(lit(cut))).count()
        require(crossing > 0,
          "st13: no segment crosses the batch boundary — proof is vacuous")
        out.select("key", "start_ts", "end_ts", "open", "high", "low",
          "close", "pct_change", "n_points", "closed")
      }),

    // ST14: EXACTLY-ONCE streaming append into the snapshot table —
    // the custom-sink half of the exactly-once contract, via
    // transactional commits keyed on (appId, batchId)
    // (StreamingOps.snapshotSink; Delta's txnAppId/txnVersion pattern).
    // Three proofs in one run: (1) two chunks land as two txn-stamped
    // commits; (2) a RESTARTED query object over the same checkpoint
    // picks up only the third chunk (offset half); (3) a simulated
    // at-least-once replay — the same last batch re-offered directly
    // with its stale txn id — is a manifest-atomic no-op (sink half:
    // the crash window between sink commit and offset write cannot
    // duplicate rows). Oracle = the declarative whole-slice union.
    QueryDef(
      "st14_stream_txn_sink",
      Some("""SELECT event_id, user_id, ts, value FROM events"""),
      (s, d) => {
        import graft.operators.SnapshotTable
        val r = new Replay(s, "stream_txn", d)
        val tbl = s"${r.base}/table"
        val ev = Tables.events(s, d)
          .select("event_id", "user_id", "ts", "value")
        val (t0, t1) = bounds(ev)
        val cuts = (0 to 3).map(k => t0 + (t1 - t0 + 1) * k / 3)
        def chunk(k: Int) = slice(ev, cuts(k), cuts(k + 1))
        def runOnce(): Unit = r.run(4)(t => StreamingOps.snapshotSink(
          r.source(ev.schema), tablePath = tbl, appId = "st14",
          checkpoint = r.ckpt, trigger = Some(t)))
        // run 1: chunks 0+1 → two txn-stamped commits
        r.feed(chunk(0), chunk(1))
        runOnce()
        require(SnapshotTable.versions(s, tbl).size == 2,
          "st14: run 1 must land two commits (one per micro-batch)")
        val lastTxn = SnapshotTable.txnVersion(s, tbl, "st14").get
        // run 2: a NEW query object over the same checkpoint sees only
        // the new chunk
        r.feed(chunk(2))
        runOnce()
        require(SnapshotTable.versions(s, tbl).size == 3,
          "st14: the restart must append exactly one commit")
        val afterRestart = SnapshotTable.read(s, tbl).count()
        // simulated at-least-once replay: the crash window re-offers an
        // ALREADY-COMMITTED batch under its stale txn id — must no-op
        SnapshotTable.commit(s, chunk(1), tbl, replace = false,
          txn = Some(("st14", lastTxn)))
        require(SnapshotTable.versions(s, tbl).size == 3 &&
            SnapshotTable.read(s, tbl).count() == afterRestart,
          "st14: a replayed batch re-applied — exactly-once broken")
        SnapshotTable.read(s, tbl)
          .select("event_id", "user_id", "ts", "value")
      }),

    // ST15: ONLINE INFERENCE with a mid-stream model refresh — the
    // continuous-retraining loop a production scoring service runs
    // (train on what exists, serve, retrain on more data, serve the
    // new model) driven through real micro-batches. A per-group OLS is
    // fit from the BATCH moments and published to a model-registry
    // dir; the stream broadcast-joins the registry AT RUN START (the
    // st11 slowly-changing-dim contract), scores each row, and a
    // restart between chunks picks up the refreshed model — so era-1
    // rows carry v1 predictions and era-2 rows v2, with the era
    // boundary the st8/st11 noon cut (both eras provably non-empty).
    // Inference is stateless (one broadcast join + arithmetic), so
    // the stream's state cost is ZERO at any rate — the scale shape
    // online scoring should have.
    //
    // Parity: both fits replay the mlprep_ols_normal Cramer trees
    // from exact-long moments (v1 on the pre-cut slice, v2 on the
    // whole fixture); the scoring expression is one shared IEEE tree;
    // predictions/residuals floor-quantized at 1e6. The oracle fits
    // both eras declaratively and scores each row by its era's model
    // — so a stale model serving era 2, a leaked v2 serving era 1, or
    // a dropped restart all break the hash.
    QueryDef(
      "st15_stream_score",
      Some(s"""WITH b AS (SELECT min(ts) AS t0, max(ts) AS t1 FROM events),
              |k AS (SELECT (epoch_ms(t0) +
              |  (epoch_ms(t1) - epoch_ms(t0) + 1) // 2) AS mid FROM b),
              |c AS (SELECT mid - mid % 86400000 + 43200000 AS cut FROM k),
              |f AS (
              |  ${LinearFit.oFeatures("event_id", "event_type",
                     "epoch_ms(ts) AS tms", "value")}),
              |f1 AS (SELECT f.* FROM f, c WHERE tms < cut),
              |${LinearFit.oFitOls("f1", 1)},
              |${LinearFit.oFitOls("f", 2)},
              |bb AS (SELECT * FROM bb1 UNION ALL SELECT * FROM bb2),
              |scored AS (
              |  SELECT f.event_id, f.event_type,
              |    CASE WHEN f.tms < c.cut THEN 1 ELSE 2 END AS era,
              |    f.x1, f.x2, f.value
              |  FROM f, c)
              |SELECT s.event_id, s.event_type, bb.version AS model_version,
              |  ${LinearFit.oQ("bb.b0 + bb.b1 * CAST(s.x1 AS DOUBLE) + " +
                     "bb.b2 * CAST(s.x2 AS DOUBLE)", 6)} AS pred_q,
              |  ${LinearFit.oQ("s.value - (bb.b0 + bb.b1 * " +
                     "CAST(s.x1 AS DOUBLE) + bb.b2 * CAST(s.x2 AS DOUBLE))",
                     6)} AS resid_q
              |FROM scored s JOIN bb ON s.event_type = bb.event_type
              |  AND s.era = bb.version""".stripMargin),
      (s, d) => {
        val r = new Replay(s, "stream_score", d)
        val modelDir = s"${r.base}/model"
        val ev = Tables.events(s, d)
          .select("event_id", "event_type", "ts", "value")
        val (t0, t1) = bounds(ev)
        val cut = middayCut(t0, t1)
        // the mlprep_ols_normal fit as a publishable model table
        def fit(df: DataFrame, ver: Int): DataFrame = LinearFit.fitOls(df)
          .select(col("event_type"), lit(ver.toLong).as("model_version"),
            col("b0"), col("b1"), col("b2"))
        def runOnce(): Unit = r.run(8)(r.toFiles {
          val model = broadcast(s.read.parquet(modelDir))
          val pred = col("b0") + col("b1") * col("x1").cast("double") +
            col("b2") * col("x2").cast("double")
          r.source(ev.schema)
            .withColumn("x1", LinearFit.x1)
            .withColumn("x2", LinearFit.x2)
            .join(model, Seq("event_type"))
            .select(col("event_id"), col("event_type"),
              col("model_version"),
              LinearFit.q(pred, 6).as("pred_q"),
              LinearFit.q(col("value") - pred, 6).as("resid_q"))
        })
        // serve v1 (trained on the pre-cut slice) over era 1
        val era1 = slice(ev, t0, cut)
        fit(era1, 1).write.mode("overwrite").parquet(modelDir)
        r.feed(era1)
        runOnce()
        // retrain on everything, THEN era 2 arrives at the restart
        fit(ev, 2).write.mode("overwrite").parquet(modelDir)
        r.feed(slice(ev, cut, t1 + 1))
        runOnce()
        val out = r.out
        // both model eras must have scored rows — a frozen registry or
        // a degenerate cut makes the refresh proof vacuous
        require(out.filter(col("model_version") === 1).count() > 0 &&
          out.filter(col("model_version") === 2).count() > 0,
          "st15: sink does not contain both model versions")
        out.select("event_id", "event_type", "model_version",
          "pred_q", "resid_q")
      }),
  )
}

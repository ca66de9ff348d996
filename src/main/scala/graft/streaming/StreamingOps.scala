package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface for the engine (SURVEY §2.9): the reference
  * is pure batch, so these are the streaming flavors of its incremental
  * patterns — tumbling-window resample, watermarked late-data handling, and
  * stateful gap sessionization (the streaming twin of
  * [[graft.operators.Sessionize]]).
  *
  * Every transform takes a DataFrame/Dataset and works identically on a
  * static frame (batch) or a `readStream` source — the same declarative plan
  * either way, which is the Spark-native way to share batch/stream logic.
  */
object StreamingOps {

  /** Tumbling 1-hour OHLC-style resample with a 2-hour watermark:
    * the 30-min→daily consolidation of `my_alpaca.py:272-280` as a
    * streaming window aggregate (min_by/max_by keep it order-safe). */
  def tumblingResample(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(col("user_id"), window(col("ts"), "1 hour").as("win"))
      .agg(
        min_by(col("value"), col("ts")).as("open"),
        max("value").as("high"),
        min("value").as("low"),
        max_by(col("value"), col("ts")).as("close"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), col("win.start").as("win_start"),
        col("open"), col("high"), col("low"), col("close"), col("n_events"))

  /** Streaming incremental ingest (SURVEY §2.9 / bars.py MERGE flavor):
    * every micro-batch is MERGEd into the sink with ON CONFLICT (key, ts)
    * DO NOTHING semantics via [[graft.operators.MergeUpsert]]. Because the
    * merge is idempotent on the key, replayed or overlapping micro-batches
    * (at-least-once sources, restarts) cannot double-load a row — the
    * standard exactly-once-to-table pattern built from an idempotent sink
    * rather than sink-side transactions. */
  def mergeSink(stream: DataFrame, sinkPath: String, keyCols: Seq[String],
                orderCol: String, checkpoint: String,
                trigger: Option[org.apache.spark.sql.streaming.Trigger] = None,
                sourceKeyUnique: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val w = stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.operators.MergeUpsert.insertIfAbsent(
          batch.sparkSession, batch, sinkPath, keyCols, orderCol,
          sourceKeyUnique)
        ()
      }
      .outputMode("append")
    trigger.fold(w)(w.trigger).start()
  }

  /** Streaming bronze → Gold: each micro-batch of bars lands in bronze and
    * incrementally refreshes ONLY the touched Gold rows
    * ([[graft.operators.IncrementalGold]] — affected users, bounded
    * lookback), merging them with a source-wins partitioned upsert.
    * This is the composition a production lakehouse streams through: the
    * per-batch work is O(batch × lookback), independent of history depth.
    *
    * Replay safety: foreachBatch is AT-LEAST-ONCE after a crash, so a
    * blind bronze `mode("append")` would land a redelivered batch twice and
    * every count/sum-based daily substrate column (pm_n, pm_vol, ...)
    * would double-count — the source-wins upsert would then persist the
    * wrong values forever. The bronze write is therefore
    * BATCH-DETERMINISTIC: batch N overwrites its own `batch_id=N`
    * directory, and since Structured Streaming replays batch N with the
    * identical checkpointed offsets, the rewrite converges to the same
    * bytes instead of a second copy. The gold refresh then recomputes from
    * a bronze that holds each event exactly once ([[processGoldBatch]] is
    * spec-proven idempotent under redelivery). */
  def goldSink(stream: DataFrame, bronzePath: String, goldPath: String,
               checkpoint: String,
               trigger: Option[org.apache.spark.sql.streaming.Trigger] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val w = stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processGoldBatch(batch, bronzePath, goldPath, batchId)
      }
      .outputMode("append")
    trigger.fold(w)(w.trigger).start()
  }

  /** One goldSink micro-batch, exposed for direct replay testing: calling
    * this twice with the same (batch, batchId) must leave bronze and gold
    * exactly as one call does. */
  def processGoldBatch(batch: DataFrame, bronzePath: String,
                       goldPath: String, batchId: Long): Unit =
    if (!batch.isEmpty) {
      val s = batch.sparkSession
      batch.persist() // three readers: bronze write, refresh, unpersist
      batch.write.mode("overwrite")
        .parquet(s"$bronzePath/batch_id=$batchId")
      // drop the partition-discovery column: bronze consumers see the bar
      // schema, not the sink's layout detail
      val bronze = s.read.parquet(bronzePath).drop("batch_id")
      // incremental-MV day universe: the existing gold table's own keys
      // (gold = the battery over all bronze, so its key set is bronze's
      // distinct (user, day) — see IncrementalGold.refresh). Absent on
      // the very first batch → refresh falls back to the bronze scan.
      val goldKeys =
        Option.when(graft.operators.MergeUpsert.tableExists(s, goldPath))(
          s.read.parquet(goldPath).select("user_id", "day"))
      graft.operators.MergeUpsert.upsertPartitioned(s,
        graft.operators.IncrementalGold.refresh(s, bronze, batch, goldKeys),
        goldPath, keyCols = Seq("user_id", "day"), partitionCol = "day",
        orderCol = "day")
      batch.unpersist()
      ()
    }

  /** Streaming exact dedup — the streaming twin of dd1/u2 for a document
    * INGEST path: keep the first arrival of each content hash, drop later
    * identical payloads. Dedup state is the scale constraint in a stream
    * (an unbounded `dropDuplicates` keeps every key forever); the
    * watermarked variant bounds state to the `horizon` window, the honest
    * contract for ingest dedup where duplicates arrive close together
    * (retries, at-least-once sources, double-submitted crawls). Re-keyed on
    * the 16-byte md5 BEFORE the stateful operator so the state store and
    * its shuffle never carry document text — the same hash-first rule as
    * the batch dedup family. */
  def streamingDedup(docs: DataFrame, horizon: String = "2 hours"): DataFrame =
    docs
      .withColumn("text_hash", md5(col("text")))
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark("text_hash")

  /** Streaming HLL distinct-count maintenance — the streaming twin of the
    * batch sketch queries (a33/a33b): one 256-register sketch per group
    * carried as `flatMapGroupsWithState` state, max-merged with each
    * micro-batch's rows, emitting the refreshed estimate per group per
    * batch (Update mode). Bucket, rho and estimate are the Scala spelling
    * of the HLL-256 format in [[graft.functions.HllSketchAgg$]] — the
    * same object the batch queries' columns and oracle text come from —
    * so after any sequence of micro-batches the streaming estimate
    * equals the batch query's estimate over the union of all rows
    * BIT-FOR-BIT, regardless of how the stream was batched
    * (`StreamingHllSpec`). That replay-stability is the merge law of
    * a33b in streaming form: registers are max-folds, so at-least-once
    * redelivery of rows cannot change the sketch.
    *
    * Scale shape: state is 256 bytes + one long per group FOREVER —
    * distinct-count with bounded state and no distinct shuffle (the
    * exact thing watermarked dropDuplicates cannot give you once the
    * horizon passes). */
  final case class HllEstimate(event_type: String, estimate: Double,
                               n_total: Long)
  def streamingHll(events: DataFrame): Dataset[HllEstimate] = {
    import graft.functions.{HllSketchAgg => Hll}
    val s = events.sparkSession
    import s.implicits._
    events
      .select(col("event_type"),
        graft.operators.TextOps.hash32(col("user_id").cast("string"))
          .as("h"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Array[Byte], Long), HllEstimate](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (et: String, rows: Iterator[(String, Long)],
         state: GroupState[(Array[Byte], Long)]) =>
          val (regs, seen) = state.getOption
            .getOrElse((new Array[Byte](Hll.M), 0L))
          var n = seen
          rows.foreach { case (_, h) =>
            val bucket = Hll.bucket(h)
            val rho = Hll.rho(Hll.sub(h)).toByte
            if (rho > regs(bucket)) regs(bucket) = rho
            n += 1
          }
          state.update((regs, n))
          Iterator.single(HllEstimate(et, Hll.estimate(regs), n))
      }
  }

  /** Watermarked stream-stream interval join — clicks attributed to the
    * impression they followed within `horizon` (the streaming twin of the
    * batch interval join j6). Both sides carry watermarks and the join
    * condition bounds the click time RELATIVE to the impression time, so
    * Spark can expire impression state once no qualifying click can still
    * arrive — without the time bound the left side's state grows with the
    * stream, the classic unbounded stream-join mistake. Inner join in
    * Append mode: a result row is emitted exactly once, when both sides
    * have arrived. */
  def streamingIntervalJoin(impressions: DataFrame, clicks: DataFrame,
                            horizon: String = "1 hour",
                            joinType: String = "inner"): DataFrame = {
    // event ids ride along when the source carries them (they make each
    // result row unique — the natural MERGE key for an idempotent sink);
    // id-less sources get the bare attribution columns.
    val impId = impressions.columns.contains("event_id")
    val clkId = clicks.columns.contains("event_id")
    val imp = impressions
      .select(Seq(col("user_id").as("i_user"), col("ts").as("imp_ts"),
        col("value").as("imp_value")) ++
        (if (impId) Seq(col("event_id").as("imp_id")) else Nil): _*)
      .withWatermark("imp_ts", horizon)
    val clk = clicks
      .select(Seq(col("user_id").as("c_user"), col("ts").as("click_ts")) ++
        (if (clkId) Seq(col("event_id").as("click_id")) else Nil): _*)
      .withWatermark("click_ts", horizon)
    // joinType "left_outer": unmatched impressions emit ONCE with null
    // click columns — but only when the watermark proves no qualifying
    // click can still arrive (imp_ts + horizon behind the click-side
    // watermark). State cost is identical to inner; the emission is
    // the state EVICTION path, which is why the caller must advance
    // the final watermark (sentinel row) for tail rows to ever emit.
    imp.join(clk,
      col("i_user") === col("c_user") &&
        col("click_ts") >= col("imp_ts") &&
        col("click_ts") <= col("imp_ts") + expr(s"INTERVAL $horizon"),
      joinType)
      .select(Seq(col("i_user").as("user_id"), col("imp_ts"),
        col("imp_value"), col("click_ts")) ++
        (if (impId) Seq(col("imp_id")) else Nil) ++
        (if (clkId) Seq(col("click_id")) else Nil): _*)
  }

  /** Open trend-segment state: the reference point plus running extrema —
    * exactly the five numbers the batch iterator state machine carries
    * ([[graft.operators.TrendEvents.segment]]). */
  final case class TrendSegState(
      refTs: java.sql.Timestamp, ref: Double, hi: Double, lo: Double, n: Int)

  /** The reference's path-dependent trend segmentation
    * (`data_apis/my_alpaca.py:19-111`) running AS A STREAM — the streaming
    * twin of [[graft.operators.TrendEvents.segment]], state machine
    * semantics identical row for row: track the segment's reference (open)
    * price and running high/low; when a price moves beyond the
    * price-tiered band (|p/ref − 1| ≥ factor(ref)) emit the completed
    * segment (crossing row included in hi/lo/n, exactly the batch rule)
    * and restart the segment at the crossing row.
    *
    * Emission contract: only CLOSED segments are emitted (Append-safe,
    * exactly once, when the crossing row arrives). Each key's final open
    * segment stays in state — price bands, unlike session gaps, have no
    * time horizon after which they provably cannot close, so there is no
    * watermark timeout that could emit it deterministically; a restart
    * resumes it from the checkpoint. NoTimeout also means AvailableNow
    * terminates as soon as the data is drained (no extra timeout batches).
    *
    * In-batch rows are sorted per key at FULL timestamp precision
    * (ms + nanos — the batch operator's sortWithinPartitions precision,
    * not a ms-truncating getTime sort); micro-batches arrive in file
    * order, so a time-ordered source replays the batch scan exactly.
    * State is O(1) per key (five numbers); per-invocation memory is the
    * key's rows in THIS micro-batch only. */
  def streamingTrend(points: Dataset[graft.operators.TrendEvents.PricePoint])
      : Dataset[graft.operators.TrendEvents.TrendEvent] = {
    import graft.operators.TrendEvents.{PricePoint, TrendEvent}
    import points.sparkSession.implicits._
    points.groupByKey(_.key)
      .flatMapGroupsWithState[TrendSegState, TrendEvent](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: Long, it: Iterator[PricePoint], state: GroupState[TrendSegState]) =>
          val (out, st) = trendStep(key, it, state.getOption)
          st.foreach(state.update)
          out
      }
  }

  /** One micro-batch of the trend state machine for `key`, shared by
    * [[streamingTrend]] and [[TrendProcessor]]: the batch's rows sorted
    * at full timestamp precision, run from the carried segment `prior`.
    * Returns the segments the batch closed and the open segment to carry
    * (None only when there was none and the batch was empty). */
  private def trendStep(key: Long,
      it: Iterator[graft.operators.TrendEvents.PricePoint],
      prior: Option[TrendSegState])
      : (Iterator[graft.operators.TrendEvents.TrendEvent],
        Option[TrendSegState]) = {
    import graft.operators.TrendEvents.{TrendEvent, crossingFrom, pctFrom}
    val rows = it.toIndexedSeq.sortBy(p => (p.ts.getTime, p.ts.getNanos))
    val out = scala.collection.mutable.ArrayBuffer.empty[TrendEvent]
    var st = prior.orNull
    rows.foreach { p =>
      if (st == null) {
        st = TrendSegState(p.ts, p.price, p.price, p.price, 1)
      } else {
        val hi2 = math.max(st.hi, p.price)
        val lo2 = math.min(st.lo, p.price)
        if (crossingFrom(st.ref, p.price)) {
          out += TrendEvent(key, st.refTs, p.ts, st.ref, hi2, lo2,
            p.price, pctFrom(st.ref, p.price), st.n + 1, closed = true)
          st = TrendSegState(p.ts, p.price, p.price, p.price, 1)
        } else {
          st = TrendSegState(st.refTs, st.ref, hi2, lo2, st.n + 1)
        }
      }
    }
    (out.iterator, Option(st))
  }

  /** EXACTLY-ONCE streaming append into a [[graft.operators.SnapshotTable]]
    * — the custom-sink half of the exactly-once contract (the source half
    * is the checkpointed offset log): every micro-batch commits with
    * `txn = (appId, batchId)`, so a restarted query that REPLAYS a batch
    * (crash after the commit, before the offset write — the classic
    * at-least-once window of foreachBatch) re-offers the same id and the
    * commit is a manifest-atomic no-op. This is Delta's
    * `txnAppId`/`txnVersion` idempotent-writes pattern; the watermark
    * rides IN the manifest, so "recorded" and "visible" cannot diverge
    * across a crash. */
  def snapshotSink(stream: DataFrame, tablePath: String, appId: String,
                   checkpoint: String,
                   trigger: Option[org.apache.spark.sql.streaming.Trigger] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val w = stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          graft.operators.SnapshotTable.commit(batch.sparkSession, batch,
            tablePath, replace = false, txn = Some((appId, batchId)))
          ()
        }
      }
      .outputMode("append")
    trigger.fold(w)(w.trigger).start()
  }

  /** The SAME trend state machine through Spark 4's `transformWithState`
    * — the modern arbitrary-stateful API (a [[StatefulProcessor]] with
    * typed state variables over the RocksDB state store) that succeeds
    * `flatMapGroupsWithState`. Semantics are identical to
    * [[streamingTrend]] row for row — st13 hash-verifies this path
    * against st6's own recursive-CTE oracle, so the two APIs are pinned
    * to one truth. Closed segments only (Append-safe), per-batch rows
    * sorted at full timestamp precision, one O(1) ValueState per key.
    * Requires `spark.sql.streaming.stateStore.providerClass =
    * RocksDBStateStoreProvider` (transformWithState keeps its state
    * variables in RocksDB column families; the caller sets it for the
    * stream, st13 shows the shape).
    */
  class TrendProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, graft.operators.TrendEvents.PricePoint,
        graft.operators.TrendEvents.TrendEvent] {
    import graft.operators.TrendEvents.{PricePoint, TrendEvent}
    @transient private var seg:
        org.apache.spark.sql.streaming.ValueState[TrendSegState] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode)
        : Unit =
      seg = getHandle.getValueState[TrendSegState]("seg",
        org.apache.spark.sql.Encoders.product[TrendSegState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long, it: Iterator[PricePoint],
        tv: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[TrendEvent] = {
      val (out, st) = trendStep(key, it,
        if (seg.exists()) Some(seg.get()) else None)
      st.foreach(seg.update)
      out
    }
  }

  /** [[streamingTrend]] through the transformWithState API — see
    * [[TrendProcessor]]. */
  def streamingTrendTws(
      points: Dataset[graft.operators.TrendEvents.PricePoint])
      : Dataset[graft.operators.TrendEvents.TrendEvent] = {
    import points.sparkSession.implicits._
    points.groupByKey(_.key)
      .transformWithState(new TrendProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
  }

  final case class Ev(user_id: Long, ts: java.sql.Timestamp, value: Double)
  final case class SessionAgg(
      user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long, value_sum: Double)
  final case class SessState(
      start: Long, last: Long, n: Long, sum: Double)

  /** Stateful gap sessionization via `flatMapGroupsWithState`.
    *
    * Closed sessions (gap exceeded by a newer event) are emitted exactly
    * once. The still-open session is handled by MODE:
    *  - streaming (`emitOpenAtEnd = false`, the default; caller must set a
    *    watermark on `ts` upstream): the open session stays in state with
    *    an EVENT-TIME timeout at `session_end + gap` — when the watermark
    *    passes that point no event can extend the session any more, so it
    *    is emitted once and cleared. Sessions close by data time, not by
    *    wall-clock idleness, which makes replays deterministic — and it is
    *    the only timeout mode compatible with `Trigger.AvailableNow`: a
    *    processing-time timeout makes `shouldRunAnotherBatch` return true
    *    unconditionally (FlatMapGroupsWithStateExec), so the "run until
    *    done" trigger never terminates, spinning empty micro-batches
    *    forever. An open session is NEVER emitted while still open —
    *    re-emitting a growing session every micro-batch would produce
    *    duplicate/overlapping rows under OutputMode.Append.
    *  - batch (`emitOpenAtEnd = true`): timeouts never fire in batch
    *    execution (NoTimeout is used), so the final open session is
    *    emitted at end-of-group — matching the batch sessionizer
    *    ([[graft.operators.Sessionize]]).
    */
  /** Exact microseconds of a Timestamp (getTime floors fractional millis
    * into the ms part; getNanos holds the full sub-second fraction). */
  private def micros(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  def sessionize(ds: Dataset[Ev], gapSeconds: Long,
                 emitOpenAtEnd: Boolean = false): Dataset[SessionAgg] = {
    import ds.sparkSession.implicits._
    val gapUs = gapSeconds * 1000000L
    val streaming = ds.isStreaming
    val timeoutConf =
      if (streaming) GroupStateTimeout.EventTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, SessionAgg](
        OutputMode.Append(), timeoutConf) {
        (uid: Long, it: Iterator[Ev], state: GroupState[SessState]) =>
          // state carries exact event-time MICROS (the gap test must not
          // lose sub-millisecond fractions across a batch boundary — same
          // boundary class as the batch twin's unix_timestamp fix);
          // emitted bounds truncate to ms, the precision the sink and
          // oracle compare at
          def close(s: SessState) = SessionAgg(uid,
            new java.sql.Timestamp(Math.floorDiv(s.start, 1000L)),
            new java.sql.Timestamp(Math.floorDiv(s.last, 1000L)),
            s.n, s.sum)
          if (state.hasTimedOut) {
            // idle key: the open session is now closed by time, not data.
            val out = state.getOption.map(close).iterator
            state.remove()
            out
          } else {
            val rows = it.toIndexedSeq.sortBy(e => micros(e.ts))
            val out = scala.collection.mutable.ArrayBuffer.empty[SessionAgg]
            var st = state.getOption.orNull
            rows.foreach { e =>
              val t = micros(e.ts)
              st match {
                case null =>
                  st = SessState(t, t, 1L, e.value)
                case s if t - s.last > gapUs =>
                  out += close(s)
                  st = SessState(t, t, 1L, e.value)
                case s =>
                  st = SessState(s.start, t, s.n + 1L, s.sum + e.value)
              }
            }
            if (st != null) {
              state.update(st)
              if (streaming) {
                // the session is closeable once the watermark passes
                // last+gap (ms floor of the exact micros horizon: fires
                // iff wm_ms > floor((last+gap)/1000), i.e. any kept
                // future row is already past the gap); clamp to wm+1 —
                // Spark rejects a timeout at or before the current
                // watermark (an already-due session then fires at the
                // next watermark advance)
                val due = Math.floorDiv(st.last + gapUs, 1000L)
                val wm = state.getCurrentWatermarkMs()
                state.setTimeoutTimestamp(math.max(due, wm + 1L))
              }
            }
            if (emitOpenAtEnd && st != null) out += close(st)
            out.iterator
          }
      }
  }
}

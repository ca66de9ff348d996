package graft

import graft.operators._
import org.apache.spark.sql.functions._

class AsOfJoinSpec extends SparkSpec {
  test("backward asof attaches latest right row at or before left ts") {
    import spark.implicits._
    val left = Seq(
      (1L, ts("2024-01-01 10:00:00")),
      (1L, ts("2024-01-01 12:00:00")),
      (1L, ts("2024-01-01 09:00:00")),
      (2L, ts("2024-01-01 10:00:00"))
    ).toDF("user_id", "ts")
    val right = Seq(
      (1L, ts("2024-01-01 09:30:00"), 10.0),
      (1L, ts("2024-01-01 12:00:00"), 20.0),
      (2L, ts("2024-01-01 11:00:00"), 30.0)
    ).toDF("user_id", "pts", "pv")
    val out = AsOfJoin.backward(left, right, "user_id", "ts", "pts", Seq("pv"))
      .orderBy("user_id", "ts")
      .select("user_id", "ts", "pv").as[(Long, java.sql.Timestamp, Option[Double])]
      .collect()
    assert(out.toSeq == Seq(
      (1L, ts("2024-01-01 09:00:00"), None),          // before any purchase
      (1L, ts("2024-01-01 10:00:00"), Some(10.0)),
      (1L, ts("2024-01-01 12:00:00"), Some(20.0)),    // exact-ts right row visible
      (2L, ts("2024-01-01 10:00:00"), None)))         // right row is later
  }

  test("tolerance nulls matches staler than the bound, keeps fresh ones") {
    import spark.implicits._
    val left = Seq(
      (1L, ts("2024-01-01 10:00:00")),   // 30 min after the match — fresh
      (1L, ts("2024-01-01 11:00:00")),   // 90 min after — stale at 1h
      (1L, ts("2024-01-01 10:30:00")))   // exactly 1h — inclusive bound
      .toDF("user_id", "ts")
    val right = Seq((1L, ts("2024-01-01 09:30:00"), 10.0))
      .toDF("user_id", "pts", "pv")
    val out = AsOfJoin.backward(left, right, "user_id", "ts", "pts",
        Seq("pv"), toleranceSeconds = Some(3600L))
      .orderBy("ts")
      .select("ts", "pv").as[(java.sql.Timestamp, Option[Double])]
      .collect()
    assert(out.toSeq == Seq(
      (ts("2024-01-01 10:00:00"), Some(10.0)),
      (ts("2024-01-01 10:30:00"), Some(10.0)),
      (ts("2024-01-01 11:00:00"), None)))
  }
}

class TrendEventsSpec extends SparkSpec {
  test("zero-price reference: next positive price closes (IEEE policy), " +
    "pct_change is None, a zero price does not") {
    import spark.implicits._
    // 0.0 becomes the reference; IEEE p/0 = +inf trips any band for
    // p > 0, 0/0 = NaN never does — crossingFrom states this explicitly
    // so the DuckDB oracle (double/0 = NULL there) can match
    val pts = Seq(
      TrendEvents.PricePoint(1L, ts("2024-01-01 10:00:00"), 0.0),
      TrendEvents.PricePoint(1L, ts("2024-01-01 11:00:00"), 0.0),
      TrendEvents.PricePoint(1L, ts("2024-01-01 12:00:00"), 3.29),
      TrendEvents.PricePoint(1L, ts("2024-01-01 13:00:00"), 3.30)
    ).toDS()
    val ev = TrendEvents.segment(pts).collect().sortBy(_.start_ts.getTime)
    // segment 1: ref 0.0, the second 0.0 does NOT close (0/0 -> NaN),
    // 3.29 does (inf); pct undefined -> None
    assert(ev(0).closed && ev(0).open == 0.0 && ev(0).close == 3.29
      && ev(0).n_points == 3 && ev(0).pct_change.isEmpty)
    // segment 2: normal band math resumes from ref 3.29
    assert(!ev(1).closed && ev(1).open == 3.29
      && ev(1).pct_change.contains(3.30 / 3.29 - 1.0))
    assert(TrendEvents.crossingFrom(0.0, 0.0) == false)
    assert(TrendEvents.crossingFrom(0.0, 0.01) == true)
  }

  test("threshold crossings split segments; final open segment emitted") {
    import spark.implicits._
    // prices at tier >= 200 -> factor 0.02: 300 -> 306.01 crosses (+2.003%)
    val pts = Seq(
      TrendEvents.PricePoint(7L, ts("2024-01-01 10:00:00"), 300.0),
      TrendEvents.PricePoint(7L, ts("2024-01-01 11:00:00"), 303.0),
      TrendEvents.PricePoint(7L, ts("2024-01-01 12:00:00"), 306.01),
      TrendEvents.PricePoint(7L, ts("2024-01-01 13:00:00"), 306.5)
    ).toDS()
    val ev = TrendEvents.segment(pts).collect().sortBy(_.start_ts.getTime)
    assert(ev.length == 2)
    assert(ev(0).closed && ev(0).open == 300.0 && ev(0).close == 306.01
      && ev(0).high == 306.01 && ev(0).n_points == 3)
    assert(!ev(1).closed && ev(1).open == 306.01 && ev(1).close == 306.5)
  }

  test("tiered factor matches the price bands") {
    assert(TrendEvents.targetFactor(0.5) == 0.12)
    assert(TrendEvents.targetFactor(5.0) == 0.08)
    assert(TrendEvents.targetFactor(25.0) == 0.05)
    assert(TrendEvents.targetFactor(100.0) == 0.03)
    assert(TrendEvents.targetFactor(500.0) == 0.02)
  }

  test("two-granularity refinement ends the event at the precise fine row") {
    import spark.implicits._
    // coarse hourly bars for key 9 at tier >= 200 (factor 0.02, band
    // 294..306 around ref 300): the 11:00 bar's high crosses; the precise
    // crossing inside it happens at 11:20 (306.2), NOT the bar close.
    val coarse = Seq(
      (9L, ts("2024-01-01 10:00:00"), ts("2024-01-01 11:00:00"), 301.0, 299.0, 300.0, 300.5),
      (9L, ts("2024-01-01 11:00:00"), ts("2024-01-01 12:00:00"), 307.0, 300.0, 300.5, 305.0),
      (9L, ts("2024-01-01 12:00:00"), ts("2024-01-01 13:00:00"), 306.0, 304.0, 305.0, 305.5)
    ).toDF("key", "ts", "winEnd", "hi", "lo", "open", "close")
    val fine = Seq(
      (9L, ts("2024-01-01 10:00:00"), 300.0),
      (9L, ts("2024-01-01 11:10:00"), 303.0),   // inside window, no cross
      (9L, ts("2024-01-01 11:20:00"), 306.2),   // precise crossing row
      (9L, ts("2024-01-01 11:40:00"), 307.0),   // after the crossing
      (9L, ts("2024-01-01 12:30:00"), 305.5)
    ).toDF("key", "ts", "price")
    val ev = TrendEvents.segmentTwoGranularity(coarse, fine)
      .collect().sortBy(_.start_ts.getTime)
    assert(ev.length == 2)
    // closed event: starts at the first coarse bar, ends EXACTLY at the
    // 11:20 fine row with its price — the drill-down found the precise
    // crossing, not the 12:00 coarse boundary.
    assert(ev(0).closed)
    assert(ev(0).end_ts == ts("2024-01-01 11:20:00"))
    assert(ev(0).close == 306.2)
    // the next segment restarts AT the fine crossing (ref = 306.2) and
    // stays open through the remaining bars.
    assert(!ev(1).closed && ev(1).open == 306.2)
    assert(ev(1).start_ts == ts("2024-01-01 11:20:00"))
  }

  test("refinement only consults fine rows in crossing windows") {
    import spark.implicits._
    // no coarse bar crosses the band → fine rows (even an extreme one)
    // must not be consulted: one open segment from coarse data only.
    val coarse = Seq(
      (3L, ts("2024-01-01 10:00:00"), ts("2024-01-01 11:00:00"), 301.0, 299.0, 300.0, 300.0),
      (3L, ts("2024-01-01 11:00:00"), ts("2024-01-01 12:00:00"), 302.0, 300.0, 300.5, 301.0)
    ).toDF("key", "ts", "winEnd", "hi", "lo", "open", "close")
    val fine = Seq(
      (3L, ts("2024-01-01 10:30:00"), 400.0)    // outlier tick, no window
    ).toDF("key", "ts", "price")
    val ev = TrendEvents.segmentTwoGranularity(coarse, fine).collect()
    assert(ev.length == 1 && !ev(0).closed && ev(0).open == 300.0
      && ev(0).close == 301.0)
  }
}

class EwmSpec extends SparkSpec {
  test("recursive EWM matches pandas adjust=False recurrence") {
    val df = spark.createDataFrame(Seq(
      (1L, ts("2024-01-01 00:00:01"), 10.0),
      (1L, ts("2024-01-01 00:00:02"), 20.0),
      (1L, ts("2024-01-01 00:00:03"), 30.0)
    )).toDF("k", "t", "x")
    val out = Ewm.recursive(df, "k", "t", "x", alpha = 0.5)
      .orderBy("ts").select("ewm").collect().map(_.getDouble(0))
    // y1=10; y2=0.5*20+0.5*10=15; y3=0.5*30+0.5*15=22.5
    assert(out.toSeq == Seq(10.0, 15.0, 22.5))
  }
}

class SessionizeSpec extends SparkSpec {
  test("batch window sessionizer and streaming-state sessionizer agree") {
    import spark.implicits._
    val rows = Seq(
      (1L, ts("2024-01-01 00:00:00"), 1.0),
      (1L, ts("2024-01-01 00:10:00"), 2.0),
      (1L, ts("2024-01-01 05:00:00"), 3.0),   // gap > 1h -> new session
      (2L, ts("2024-01-01 00:00:00"), 4.0))
    val df = rows.toDF("user_id", "ts", "value")
    val batch = Sessionize.withSessionIds(df, "user_id", "ts", 3600L)
      .groupBy("user_id", "session_id").count()
      .orderBy("user_id", "session_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(batch.toSeq == Seq((1L, 1L, 2L), (1L, 2L, 1L), (2L, 1L, 1L)))

    val ds = rows.map(r => graft.streaming.StreamingOps.Ev(r._1, r._2, r._3)).toDS()
    val streamed = graft.streaming.StreamingOps
      .sessionize(ds, 3600L, emitOpenAtEnd = true)
      .collect().sortBy(s => (s.user_id, s.session_start.getTime))
      .map(s => (s.user_id, s.n_events, s.value_sum))
    assert(streamed.toSeq == Seq((1L, 2L, 3.0), (1L, 1L, 3.0), (2L, 1L, 4.0)))
  }

  test("sub-second gap boundary: strictly-greater in exact micros") {
    import spark.implicits._
    val base = ts("2024-01-01 00:00:00")
    def at(us: Long) = {
      val t = new java.sql.Timestamp(base.getTime + us / 1000)
      t.setNanos(((us % 1000000) * 1000).toInt)
      t
    }
    // gaps of exactly 3600s and 3600.000001s around whole-second floors:
    // unix_timestamp-style truncation would see both as 3600 (no split);
    // exact micros split only the second
    val rows = Seq(
      (1L, at(0L), 1.0),
      (1L, at(3600000000L), 2.0),          // gap == 3600s exactly -> same
      (1L, at(7200000001L), 3.0))          // gap == 3600.000001s -> new
      .toDF("user_id", "ts", "value")
    val ids = Sessionize.withSessionIds(rows, "user_id", "ts", 3600L)
      .orderBy("ts").collect().map(_.getAs[Long]("session_id")).toSeq
    assert(ids == Seq(1L, 1L, 2L), ids.toString)
    // streaming twin: identical boundary decisions
    val ds = Seq(
      graft.streaming.StreamingOps.Ev(1L, at(0L), 1.0),
      graft.streaming.StreamingOps.Ev(1L, at(3600000000L), 2.0),
      graft.streaming.StreamingOps.Ev(1L, at(7200000001L), 3.0)).toDS()
    val out = graft.streaming.StreamingOps
      .sessionize(ds, 3600L, emitOpenAtEnd = true)
      .collect().sortBy(_.session_start.getTime).map(_.n_events).toSeq
    assert(out == Seq(2L, 1L), out.toString)
  }

  test("streaming-mode emission withholds the open session (append-safe)") {
    import spark.implicits._
    val rows = Seq(
      (1L, ts("2024-01-01 00:00:00"), 1.0),
      (1L, ts("2024-01-01 00:10:00"), 2.0),
      (1L, ts("2024-01-01 05:00:00"), 3.0),   // gap > 1h closes session 1
      (2L, ts("2024-01-01 00:00:00"), 4.0))   // open-only key
    val ds = rows.map(r => graft.streaming.StreamingOps.Ev(r._1, r._2, r._3)).toDS()
    // default emitOpenAtEnd=false = streaming semantics: a still-open
    // session is NEVER emitted inline (it would be re-emitted with growing
    // bounds every micro-batch under OutputMode.Append); it stays in state
    // for the event-time timeout to close once the watermark passes
    // session_end + gap.
    val out = graft.streaming.StreamingOps.sessionize(ds, 3600L)
      .collect().map(s => (s.user_id, s.n_events, s.value_sum))
    assert(out.toSeq == Seq((1L, 2L, 3.0)))
  }
}

class TextOpsSpec extends SparkSpec {
  import TextOps._
  test("shingles: n-gram count, short docs yield empty not descending seq") {
    import spark.implicits._
    val out = Seq("a b c d", "a b", "x")
      .toDF("text").select(shingles(col("text")).as("sh"))
      .as[Seq[String]].collect()
    assert(out(0) == Seq("a b c", "b c d"))
    assert(out(1).isEmpty && out(2).isEmpty)
  }

  test("hash32 is the md5-prefix integer (portable to the oracle)") {
    import spark.implicits._
    val h = Seq("hello").toDF("s").select(hash32(col("s"))).head.getLong(0)
    assert(h == 0x5d41402aL) // md5("hello") = 5d41402a...
  }

  test("fingerprint is order- and duplication-insensitive") {
    import spark.implicits._
    val fps = Seq("b a a c", "c b a", "a b x")
      .toDF("text").select(fingerprint(col("text"))).as[String].collect()
    assert(fps(0) == fps(1) && fps(0) != fps(2))
  }

  test("pii scrub: maskAll replaces every match, countMatches audits them") {
    import spark.implicits._
    val row = Seq("call 555-12-3456 or mail a.b@test.org x9 y77")
      .toDF("s")
      .select(
        maskAll(col("s"), DigitRun, "<N>").as("m"),
        countMatches(col("s"), DigitRun).as("nd"),
        countMatches(col("s"), EmailPat).as("ne"),
        countMatches(col("s"), SsnPat).as("ns"))
      .head()
    assert(row.getString(0) == "call <N>-<N>-<N> or mail a.b@test.org x<N> y<N>")
    assert(row.getLong(1) == 5 && row.getLong(2) == 1 && row.getLong(3) == 1)
  }

  test("pii scrub: zero matches leave text intact and count 0") {
    import spark.implicits._
    val row = Seq("no identifiers here").toDF("s")
      .select(maskAll(col("s"), DigitRun, "<N>").as("m"),
              countMatches(col("s"), SsnPat).as("n"))
      .head()
    assert(row.getString(0) == "no identifiers here" && row.getLong(1) == 0)
  }
}

class MultimodalSpec extends SparkSpec {
  test("feature extraction: deterministic vectors, null payload passthrough") {
    val rows = java.util.Arrays.asList(
      org.apache.spark.sql.Row(1L, "image", "bytes-one".getBytes, 4, 4, null),
      org.apache.spark.sql.Row(2L, "image", null, null, null, null))
    val df = spark.createDataFrame(rows, Multimodal.mediaSchema)
    val out = Multimodal.extractFeatures(df, dim = 8)
      .orderBy("media_id").collect()
    val f1 = out(0).getAs[scala.collection.Seq[Float]]("features")
    assert(f1.length == 8)
    assert(out(1).isNullAt(out(1).fieldIndex("features")))
    // deterministic across runs
    val again = Multimodal.extractFeatures(df, dim = 8)
      .orderBy("media_id").collect()(0)
      .getAs[scala.collection.Seq[Float]]("features")
    assert(f1 == again)
  }

  test("frame sampling emits one row per offset step") {
    val rows = java.util.Arrays.asList(
      org.apache.spark.sql.Row(9L, "video", "vvv".getBytes, null, null,
        java.lang.Long.valueOf(2500L)))
    val df = spark.createDataFrame(rows, Multimodal.mediaSchema)
    val out = Multimodal.sampleFrames(df, everyMs = 1000L, dim = 4)
      .orderBy("frame_ms").collect()
    assert(out.map(_.getLong(1)).toSeq == Seq(0L, 1000L, 2000L))
  }

  test("scaledDims: bounds, asymmetric box, integer exactness, >=1 guard") {
    // in-bounds passes through
    assert(Multimodal.scaledDims(640, 480, 640, 480) == (640, 480))
    assert(Multimodal.scaledDims(10, 10, 640, 480) == (10, 10))
    // width-bound vs height-bound chosen by cross-multiplication
    assert(Multimodal.scaledDims(1280, 720, 640, 480) == (640, 360))
    assert(Multimodal.scaledDims(720, 1280, 640, 480) == (270, 480))
    // exact integer division (no float drift): 1000x750 -> 640x480
    assert(Multimodal.scaledDims(1000, 750, 640, 480) == (640, 480))
    // degenerate aspect cannot collapse a dim to 0
    assert(Multimodal.scaledDims(100000, 1, 640, 480) == (640, 1))
    assert(Multimodal.scaledDims(1, 100000, 640, 480)._1 == 1)
  }

  test("resize: stub size contract, pass-through identity, determinism") {
    val big = "payload-bytes-of-a-big-image".getBytes
    val small = "small".getBytes
    val rows = java.util.Arrays.asList(
      org.apache.spark.sql.Row(1L, "image", big,
        Integer.valueOf(1280), Integer.valueOf(720), null),
      org.apache.spark.sql.Row(2L, "image", small,
        Integer.valueOf(320), Integer.valueOf(200), null),
      org.apache.spark.sql.Row(3L, "audio", big, null, null,
        java.lang.Long.valueOf(9000L)),
      org.apache.spark.sql.Row(4L, "video", null,
        Integer.valueOf(1920), Integer.valueOf(1080), null))
    val df = spark.createDataFrame(rows, Multimodal.mediaSchema)
    val out = Multimodal.resize(df, 640, 480).orderBy("media_id").collect()
    // resized row: new dims + stub payload of exactly outW*3 + outH bytes
    assert(out(0).getInt(3) == 640 && out(0).getInt(4) == 360)
    val p1 = out(0).getAs[Array[Byte]]("payload")
    assert(p1.length == 640 * 3 + 360)
    // in-bounds image: byte-identical pass-through
    assert(out(1).getAs[Array[Byte]]("payload").sameElements(small))
    assert(out(1).getInt(3) == 320 && out(1).getInt(4) == 200)
    // audio (null dims) and null-payload rows pass through untouched
    assert(out(2).getAs[Array[Byte]]("payload").sameElements(big))
    assert(out(2).isNullAt(3))
    assert(out(3).isNullAt(2))
    assert(out(3).getInt(3) == 1920)
    // deterministic: same input -> same stub bytes
    val again = Multimodal.resize(df, 640, 480).orderBy("media_id")
      .collect()(0).getAs[Array[Byte]]("payload")
    assert(p1.sameElements(again))
  }
}

class IncrementalSyncSpec extends SparkSpec {
  test("high-watermark append is incremental and idempotent") {
    import spark.implicits._
    val sink = java.nio.file.Files.createTempDirectory("graft_sync").toString + "/t"
    val day1 = Seq((1L, ts("2024-01-01 00:00:00"), 1.0),
                   (2L, ts("2024-01-01 00:00:00"), 2.0))
      .toDF("user_id", "ts", "value")
    assert(IncrementalSync.appendNewer(spark, day1, sink, "user_id", "ts", "value") == 2)
    // re-run same source: nothing new
    assert(IncrementalSync.appendNewer(spark, day1, sink, "user_id", "ts", "value") == 0)
    // newer rows + a new key
    val day2 = day1.union(Seq(
      (1L, ts("2024-01-02 00:00:00"), 3.0),
      (3L, ts("2024-01-01 00:00:00"), 4.0)).toDF("user_id", "ts", "value"))
    assert(IncrementalSync.appendNewer(spark, day2, sink, "user_id", "ts", "value") == 2)
    assert(spark.read.parquet(sink).count() == 4)
  }

  test("same-key-same-timestamp conflicts do nothing (no duplicates)") {
    import spark.implicits._
    val sink = java.nio.file.Files.createTempDirectory("graft_sync").toString + "/t"
    val first = Seq((1L, ts("2024-01-01 00:00:00"), 1.0))
      .toDF("user_id", "ts", "value")
    assert(IncrementalSync.appendNewer(spark, first, sink, "user_id", "ts", "value") == 1)
    // same (key, ts) but a DIFFERENT value: ON CONFLICT DO NOTHING — the
    // original row wins, nothing is appended (the old watermark-only
    // implementation duplicated this case).
    val conflict = Seq((1L, ts("2024-01-01 00:00:00"), 99.0))
      .toDF("user_id", "ts", "value")
    assert(IncrementalSync.appendNewer(spark, conflict, sink, "user_id", "ts", "value") == 0)
    val rows = spark.read.parquet(sink).collect()
    assert(rows.length == 1 && rows(0).getAs[Double]("value") == 1.0)
  }

  test("source pipeline is evaluated exactly once per merge") {
    import spark.implicits._
    val sink = java.nio.file.Files.createTempDirectory("graft_sync").toString + "/t"
    val evals = spark.sparkContext.longAccumulator("evals")
    val tick = org.apache.spark.sql.functions.udf { (v: Double) =>
      evals.add(1); v
    }
    val src = Seq((1L, ts("2024-01-01 00:00:00"), 1.0),
                  (2L, ts("2024-01-01 00:00:00"), 2.0))
      .toDF("user_id", "ts", "value")
      .withColumn("value", tick(org.apache.spark.sql.functions.col("value")))
    assert(IncrementalSync.appendNewer(spark, src, sink, "user_id", "ts", "value") == 2)
    // 2 rows, one pass: the count comes from an Observation on the write,
    // not a separate count() action re-running the pipeline.
    assert(evals.value == 2, s"source evaluated ${evals.value} times, want 2")
  }
}

class StreamingMergeSpec extends SparkSpec {
  test("foreachBatch MERGE sink: overlapping micro-batches never double-load") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_smerge").toString
    val sink = s"$dir/t"
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp, Double)]
    val q = graft.streaming.StreamingOps.mergeSink(
      mem.toDF().toDF("user_id", "ts", "value"), sink,
      Seq("user_id", "ts"), "value", s"$dir/cp")
    try {
      mem.addData((1L, ts("2024-01-01 00:00:00"), 1.0),
                  (2L, ts("2024-01-01 00:00:00"), 2.0))
      q.processAllAvailable()
      assert(spark.read.parquet(sink).count() == 2)
      // second micro-batch overlaps the first (replay/at-least-once) and
      // adds one genuinely new row → exactly one insert
      mem.addData((1L, ts("2024-01-01 00:00:00"), 99.0),
                  (3L, ts("2024-01-01 00:00:00"), 3.0))
      q.processAllAvailable()
      val rows = spark.read.parquet(sink).orderBy("user_id").collect()
      assert(rows.length == 3)
      // the conflicting replay did NOT overwrite the original row
      assert(rows(0).getAs[Double]("value") == 1.0)
    } finally q.stop()
  }
}

class BatchedIngestSpec extends SparkSpec {
  import org.apache.spark.sql.functions.col

  test("batch boundaries respect batchSize; load is idempotent per batch") {
    import spark.implicits._
    val sink = java.nio.file.Files.createTempDirectory("graft_ingest").toString + "/t"
    // fixture "upstream": 5 keys × 2 rows each
    val upstream = (for (k <- 1 to 5; h <- 0 to 1) yield
      (s"SYM$k", ts(f"2024-01-01 0$h:00:00"), k * 10.0 + h))
      .toDF("symbol", "ts", "value")
    val seen = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    val fetch = (batch: Seq[String]) => {
      seen += batch
      upstream.filter(col("symbol").isin(batch: _*))
    }
    val keys = (1 to 5).map(k => s"SYM$k")
    val res = graft.sources.BatchedIngest.run(spark, keys, batchSize = 2,
      fetch, sink, "symbol", "ts", "value")
    // 5 keys / batchSize 2 → batches of 2,2,1 in key order
    assert(seen.map(_.length).toSeq == Seq(2, 2, 1))
    assert(seen.flatten.toSeq == keys)
    assert(res.map(_.rowsInserted).sum == 10)
    assert(spark.read.parquet(sink).count() == 10)
    // re-run the whole ingest: every batch merges to zero inserts
    val again = graft.sources.BatchedIngest.run(spark, keys, batchSize = 2,
      fetch, sink, "symbol", "ts", "value")
    assert(again.map(_.rowsInserted).sum == 0)
    assert(spark.read.parquet(sink).count() == 10)
  }
}

class MergeUpsertSpec extends SparkSpec {
  import org.apache.spark.sql.functions.col

  test("insertIfAbsent: dedups source on key, idempotent under re-run") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_merge").toString + "/t"
    // source carries an internal key conflict: first by event_id wins
    val src = Seq((10L, 1L, ts("2024-01-01 00:00:00"), 1.0),
                  (11L, 1L, ts("2024-01-01 00:00:00"), 2.0),
                  (12L, 2L, ts("2024-01-01 00:00:00"), 3.0))
      .toDF("event_id", "user_id", "ts", "value")
    assert(MergeUpsert.insertIfAbsent(spark, src, path,
      Seq("user_id", "ts"), "event_id") == 2)
    val kept = spark.read.parquet(path).filter(col("user_id") === 1L).collect()
    assert(kept.length == 1 && kept(0).getAs[Long]("event_id") == 10L)
    // re-run: no-op
    assert(MergeUpsert.insertIfAbsent(spark, src, path,
      Seq("user_id", "ts"), "event_id") == 0)
    assert(spark.read.parquet(path).count() == 2)
  }

  test("upsertPartitioned: source wins on conflict, untouched partitions survive") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_merge").toString + "/t"
    val base = Seq((1L, "2024-01-01", 1.0), (2L, "2024-01-01", 2.0),
                   (3L, "2024-01-02", 3.0))
      .toDF("user_id", "day", "value")
    MergeUpsert.upsertPartitioned(spark, base, path,
      Seq("user_id", "day"), "day", "user_id")
    def partFiles(day: String): Map[String, Long] = {
      val dir = new java.io.File(s"$path/day=$day")
      dir.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val untouchedBefore = partFiles("2024-01-02")
    // update key 1, insert key 4 — only partition 2024-01-01 is touched
    val delta = Seq((1L, "2024-01-01", 10.0), (4L, "2024-01-01", 4.0))
      .toDF("user_id", "day", "value")
    MergeUpsert.upsertPartitioned(spark, delta, path,
      Seq("user_id", "day"), "day", "user_id")
    val out = spark.read.parquet(path).orderBy("user_id").collect()
    assert(out.map(r => (r.getAs[Long]("user_id"), r.getAs[Double]("value")))
      .toSeq == Seq((1L, 10.0), (2L, 2.0), (3L, 3.0), (4L, 4.0)))
    // partition-pruned copy-on-write at the FILE level: the 2024-01-02
    // partition's files are byte-identical and untouched (same names,
    // same mtimes) — dynamic overwrite only rewrote the source's partition.
    assert(partFiles("2024-01-02") == untouchedBefore,
      "untouched partition was rewritten")
  }

  // --- the pruned target scan of insertIfAbsent --------------------------

  private def tmpTable(): String =
    java.nio.file.Files.createTempDirectory("graft_merge").toString + "/t"

  /** Target data files the anti-join of `newRows` reads (0: no scan). */
  private def filesRead(path: String, src: org.apache.spark.sql.DataFrame,
                        keys: Seq[String]): Int =
    MergeUpsert.newRows(spark, src, path, keys, keys.head,
      sourceKeyUnique = true).queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.location.rootPaths.forall(_.toString.contains(path)) =>
        s.relation.location.inputFiles.length
    }.sum

  /** One single-file batch of ids `ks`. */
  private def ids(ks: Seq[Long]): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    ks.map(k => (k, k * 0.5)).toDF("id", "value").coalesce(1)
  }

  private def insert(path: String, src: org.apache.spark.sql.DataFrame,
                     keys: Seq[String] = Seq("id")): Long =
    MergeUpsert.insertIfAbsent(spark, src, path, keys, keys.head)

  test("insertIfAbsent: target files read per batch stay flat as the sink grows") {
    val path = tmpTable()
    // batch i re-offers the last key of batch i-1 and adds ten new ones:
    // only the previous batch's file can hold a batch key
    val read = (0 until 20).map { i =>
      val batch = ids((if (i == 0) 0L else i * 10L - 1) until (i + 1) * 10L)
      val n = filesRead(path, batch, Seq("id"))
      assert(insert(path, batch) == 10, s"batch $i")
      n
    }
    assert(read == 0 +: Seq.fill(19)(1), read)
    val out = spark.read.parquet(path)
    assert(out.count() == 200 && out.select("id").distinct().count() == 200)
  }

  test("insertIfAbsent: keys repeated from the oldest file insert nothing") {
    val path = tmpTable()
    Seq(0L until 10L, 10L until 20L, 20L until 30L)
      .foreach(r => insert(path, ids(r)))
    assert(filesRead(path, ids(0L until 10L), Seq("id")) == 1)
    assert(insert(path, ids(0L until 10L)) == 0)
    // range edges: a batch whose max is a file's min, and one whose min is
    // a file's max, must still see that file
    assert(filesRead(path, ids(-5L to 0L), Seq("id")) == 1)
    assert(insert(path, ids(-5L to 0L)) == 5)
    assert(filesRead(path, ids(29L to 35L), Seq("id")) == 1)
    assert(insert(path, ids(29L to 35L)) == 6)
    val out = spark.read.parquet(path)
    assert(out.count() == 41 && out.select("id").distinct().count() == 41)
  }

  test("insertIfAbsent: null batch keys are still inserted") {
    import spark.implicits._
    val path = tmpTable()
    insert(path, ids(0L until 10L))
    insert(path, ids(20L until 30L))
    val mixed = Seq((Some(5L), 1.0), (None, 2.0)).toDF("id", "value")
    assert(insert(path, mixed) == 1)
    // an all-null key column can't match any file: no target scan at all
    val nulls = Seq((Option.empty[Long], 3.0)).toDF("id", "value")
    assert(filesRead(path, nulls, Seq("id")) == 0)
    assert(insert(path, nulls) == 1)
    assert(spark.read.parquet(path).filter($"id".isNull).count() == 2)
  }

  test("insertIfAbsent: a file whose key column is all null is skipped") {
    import spark.implicits._
    val path = tmpTable()
    insert(path, Seq((Option.empty[Long], 1.0)).toDF("id", "value"))
    insert(path, ids(0L until 10L))
    insert(path, ids(20L until 30L))
    // only the [0, 9] file can hold a key of [5, 15]
    assert(filesRead(path, ids(5L to 15L), Seq("id")) == 1)
    assert(insert(path, ids(5L to 15L)) == 6)
    val out = spark.read.parquet(path)
    assert(out.count() == 27 && out.filter($"id".isNotNull)
      .select("id").distinct().count() == 26)
  }

  test("insertIfAbsent: timestamp and string keys keep every file") {
    import spark.implicits._
    val tsPath = tmpTable()
    def tsBatch(hs: Seq[Int]) = hs.map(h =>
      (ts(f"2024-01-01 $h%02d:00:00"), h.toDouble)).toDF("t", "value")
        .coalesce(1)
    insert(tsPath, tsBatch(0 until 5), Seq("t"))
    insert(tsPath, tsBatch(5 until 10), Seq("t"))
    assert(filesRead(tsPath, tsBatch(12 until 15), Seq("t")) == 2)
    assert(insert(tsPath, tsBatch(3 until 15), Seq("t")) == 5)
    assert(spark.read.parquet(tsPath).count() == 15)

    val strPath = tmpTable()
    def strBatch(ks: Seq[String]) = ks.map(k => (k, 1.0)).toDF("k", "value")
      .coalesce(1)
    insert(strPath, strBatch(Seq("a", "b")), Seq("k"))
    insert(strPath, strBatch(Seq("c", "d")), Seq("k"))
    assert(filesRead(strPath, strBatch(Seq("x")), Seq("k")) == 2)
    assert(insert(strPath, strBatch(Seq("a", "d", "e")), Seq("k")) == 1)
    assert(spark.read.parquet(strPath).count() == 5)
  }

  // no schema inference and no listing job, however many files the sink
  // holds: the only job is the batch's own key bounds, and it runs only
  // when the files' key ranges are apart — not for a key with no integral
  // column, nor when every file's range overlaps every other's
  test("newRows: planning over a 40-file sink runs only the bounds job") {
    import spark.implicits._
    val path = tmpTable()
    spark.range(0, 400, 1, 40).selectExpr("id", "cast(id as string) k")
      .write.parquet(path)
    assert(jobsDuring(MergeUpsert.newRows(spark, ids(Seq(5L, 500L)), path,
      Seq("id"), "id", sourceKeyUnique = true)) == 1)
    val spread = tmpTable()
    spark.range(0, 400, 1, 40).selectExpr("id", "id % 10 AS b")
      .repartition(40, $"b").write.parquet(spread)
    var fromSpread: org.apache.spark.sql.DataFrame = null
    assert(jobsDuring {
      fromSpread = MergeUpsert.newRows(spark, ids(Seq(5L, 500L)), spread,
        Seq("id"), "id", sourceKeyUnique = true)
    } == 0)
    assert(fromSpread.select("id").as[Long].collect().toSeq == Seq(500L))
    val strs = Seq(("5", 1.0), ("x", 2.0)).toDF("k", "value")
    var fresh: org.apache.spark.sql.DataFrame = null
    assert(jobsDuring {
      fresh = MergeUpsert.newRows(spark, strs, path, Seq("k"), "k",
        sourceKeyUnique = true)
    } == 0)
    assert(fresh.select("k").as[String].collect().toSeq == Seq("x"))
  }

  test("newRows: a partitioned target keeps every file and stays correct") {
    import spark.implicits._
    val path = tmpTable()
    Seq((1, "a", 1.0), (2, "b", 2.0)).toDF("bucket", "name", "v")
      .write.partitionBy("bucket").parquet(path)
    val src = Seq((1, "a", 9.0), (1, "c", 9.0), (3, "d", 9.0))
      .toDF("bucket", "name", "v")
    // the partition column is in no footer and `name` is a string
    assert(filesRead(path, src, Seq("bucket", "name")) == 2)
    val out = MergeUpsert.newRows(spark, src, path, Seq("bucket", "name"),
      "v").orderBy("name").collect()
      .map(r => (r.getAs[Int]("bucket"), r.getAs[String]("name"))).toSeq
    assert(out == Seq((1, "c"), (3, "d")))
  }
}

class WriteChunkFilesSpec extends SparkSpec {
  test("writeChunkFiles: moves each chunk to its target, names an empty one") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_chunks").toString
    val full = Seq((1L, 1.0), (2L, 2.0)).toDF("id", "value")
    graft.queries.StreamingQueries.writeChunkFiles(spark,
      Seq((full, s"$root/a/c0.parquet", 1000L),
        (full.filter($"id" === 2L), s"$root/a/c1.parquet", 2000L)))
    assert(spark.read.parquet(s"$root/a/c0.parquet").count() == 2)
    assert(new java.io.File(s"$root/a/c1.parquet").lastModified() == 2000L)
    // the empty chunk writes no partition directory: the error must say
    // which chunk was empty, not surface a raw FileNotFoundException
    val e = intercept[IllegalStateException] {
      graft.queries.StreamingQueries.writeChunkFiles(spark,
        Seq((full, s"$root/b/c0.parquet", 1000L),
          (full.limit(0), s"$root/b/c1.parquet", 2000L)))
    }
    assert(e.getMessage.contains("empty chunk 1"), e.getMessage)
  }
}

class StreamingSpec extends SparkSpec {
  test("tumbling resample works identically on a static frame") {
    import spark.implicits._
    val df = Seq(
      (1L, ts("2024-01-01 10:05:00"), 10.0),
      (1L, ts("2024-01-01 10:55:00"), 12.0),
      (1L, ts("2024-01-01 11:05:00"), 9.0))
      .toDF("user_id", "ts", "value")
    val out = graft.streaming.StreamingOps.tumblingResample(df)
      .orderBy("win_start").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Double]("open") == 10.0 &&
           out(0).getAs[Double]("close") == 12.0 &&
           out(0).getAs[Long]("n_events") == 2L)
  }

  test("watermark finalizes windows and drops too-late events (append mode)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp, Double)]
    val q = graft.streaming.StreamingOps
      .tumblingResample(mem.toDF().toDF("user_id", "ts", "value"))
      .writeStream.format("memory").queryName("wm_out")
      .outputMode("append").start()
    try {
      // batch 1: fills the 10:00 window; watermark = 10:55 - 2h → nothing
      // finalized yet, append emits nothing
      mem.addData((1L, ts("2024-01-01 10:05:00"), 10.0),
                  (1L, ts("2024-01-01 10:55:00"), 12.0))
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM wm_out").count() == 0)
      // batch 2: event time jumps to 13:30 → watermark 11:30 passes the
      // 10:00 window's end → that window is finalized and emitted once
      mem.addData((1L, ts("2024-01-01 13:30:00"), 9.0))
      q.processAllAvailable()
      val fin = spark.sql("SELECT * FROM wm_out").collect()
      assert(fin.length == 1 && fin(0).getAs[Long]("n_events") == 2L)
      // batch 3: an event older than the watermark is DROPPED — no new
      // output, and the finalized window is not re-emitted or amended
      mem.addData((1L, ts("2024-01-01 10:10:00"), 99.0))
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM wm_out").count() == 1)
    } finally q.stop()
  }

  test("tumbling resample runs as a real stream (memory source and sink)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, java.sql.Timestamp, Double)]
    mem.addData((1L, ts("2024-01-01 10:05:00"), 10.0),
                (1L, ts("2024-01-01 10:55:00"), 12.0))
    val streamDf = mem.toDF().toDF("user_id", "ts", "value")
    val q = graft.streaming.StreamingOps.tumblingResample(streamDf)
      .writeStream.format("memory").queryName("resample_out")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM resample_out").collect()
      assert(rows.length == 1 && rows(0).getAs[Long]("n_events") == 2L)
    } finally q.stop()
  }
}

class CalendarSourceSpec extends SparkSpec {
  import graft.sources.CalendarSource

  test("fixture parses: federal calendar sorted, maintenance mid-range") {
    val fed = CalendarSource.holidays("us_federal")
    assert(fed.nonEmpty && fed == fed.sorted)
    assert(fed.contains("2024-01-01") && fed.contains("2024-01-15"))
    // the ml.prep median-fill precondition: first maintenance closure
    // falls strictly inside the events fixture's January range
    val maint = CalendarSource.holidays("exchange_maintenance")
    assert(maint.head > "2024-01-01" && maint.head < "2024-01-30")
  }

  test("unknown calendar fails fast, not empty") {
    val e = intercept[IllegalArgumentException] {
      CalendarSource.holidays("no_such_calendar")
    }
    assert(e.getMessage.contains("us_federal"))
  }

  test("dim yields one date row per fixture holiday") {
    val rows = CalendarSource.dim(spark, "us_federal").collect()
    assert(rows.length == CalendarSource.holidays("us_federal").length)
    assert(rows.forall(_.get(0).isInstanceOf[java.sql.Date]))
  }

  test("oracle VALUES fragment carries the same dates as the dim") {
    val sql = CalendarSource.valuesSql("us_federal")
    CalendarSource.holidays("us_federal").foreach { h =>
      assert(sql.contains(s"DATE '$h'"))
    }
  }
}

class HistogramMedianSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("exact median via histogram order statistics (odd and even n)") {
    import spark.implicits._
    val odd = graft.queries.MlPrepQueries
      .histogramMedian(Seq(1L, 5L, 2L, 2L, 9L).toDF("v"), "v")
      .collect()(0).getDouble(0)
    assert(odd == 2.0)
    val even = graft.queries.MlPrepQueries
      .histogramMedian(Seq(1L, 3L, 5L, 9L).toDF("v"), "v")
      .collect()(0).getDouble(0)
    assert(even == 4.0) // mean of the two middle order statistics
  }

  test("cardinality guard: unbounded domain fails instead of degrading") {
    import spark.implicits._
    val wide = (1L to 50L).toDF("v")
    val e = intercept[Exception] {
      graft.queries.MlPrepQueries
        .histogramMedian(wide, "v", maxDomain = 10L).collect()
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(chain(e).exists(_.contains("histogramMedian")))
  }
}

class DedupStageSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("stage builds once per corpus and serves all three tables") {
    val d = "/root/testdata/sf0.001"
    val before = graft.operators.DedupStage.buildSeconds
    val s1 = graft.operators.DedupStage(spark, d)
    val nDocs = Tables.documents(spark, d).count()
    assert(s1.membership.count() == nDocs) // every doc has a representative
    val profiles = s1.profiles
    // one profile row per DISTINCT text; duplicate groups collapse
    val nDistinct = Tables.documents(spark, d)
      .select(md5(col("text"))).distinct().count()
    assert(profiles.count() == nDistinct)
    assert(profiles.columns.contains("sig0") &&
      profiles.columns.contains(s"sig${graft.operators.DedupParams.K - 1}"))
    val afterFirst = graft.operators.DedupStage.buildSeconds
    // second apply must hit the materialized stage, not rebuild
    graft.operators.DedupStage(spark, d)
    assert(graft.operators.DedupStage.buildSeconds == afterFirst)
    assert(afterFirst >= before)
  }

  test("membership maps duplicate docs to the min doc_id representative") {
    val d = "/root/testdata/sf0.001"
    val stage = graft.operators.DedupStage(spark, d)
    val bad = stage.membership.filter(col("rep_id") > col("doc_id")).count()
    assert(bad == 0)
  }

  test("materialized staged pairs equal an inline band-join recompute") {
    import graft.operators.{DedupParams, DedupStage, LshBanding}
    val d = "/root/testdata/sf0.001"
    val stage = DedupStage(spark, d)
    val mat = stage.stagedPairs
    assert(mat.columns.toSeq == Seq("rep_a", "rep_b", "jaccard"))
    assert(mat.filter(col("jaccard") < DedupParams.StagedThreshold)
      .count() == 0)
    val inline = LshBanding.repPairs(stage.profiles.persist(),
      DedupParams.StagedBands, DedupParams.StagedThreshold, "spec_cap")
    // identical pair sets (jaccard is a deterministic exact expression)
    assert(mat.exceptAll(inline).count() == 0 &&
      inline.exceptAll(mat).count() == 0)
  }
}

class ConnectedComponentsSpec extends SparkSpec {
  import org.apache.spark.sql.functions._
  import graft.operators.ConnectedComponents

  private def pairs(ps: (Long, Long)*) = {
    import spark.implicits._
    ps.toDF("doc_a", "doc_b")
  }

  test("chain merges transitively to the min id") {
    // 1-2, 2-3, 3-4: one component labeled 1, found in diameter rounds
    val out = ConnectedComponents.run(pairs((1L, 2L), (2L, 3L), (3L, 4L)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("disjoint components keep distinct canonical ids") {
    val out = ConnectedComponents
      .run(pairs((10L, 11L), (20L, 22L), (22L, 21L)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("round cap fails fast on a chain deeper than the budget") {
    // path of 40 nodes: even with pointer jumping (~2^r reach) a 2-round
    // budget cannot close diameter 39
    val chain = (1L to 39L).map(i => (i, i + 1))
    val e = intercept[IllegalArgumentException] {
      ConnectedComponents.run(pairs(chain: _*), maxRounds = 2)
    }
    assert(e.getMessage.contains("large-star"))
  }

  test("pointer jumping closes a deep chain in O(log diameter) rounds") {
    // 120-node path, diameter 119: plain propagation would need 119
    // rounds; propagation + jump doubles reach per round → well under 12
    val chain = (1L to 119L).map(i => (i, i + 1))
    val out = ConnectedComponents.run(pairs(chain: _*), maxRounds = 12)
    assert(out.filter(col("cluster_id") === 1L).count() == 120)
  }

  test("star graph converges in one round regardless of size") {
    // the near-dup shape: hub 1 with 30 spokes — 1 propagation round + 1
    // fixpoint-confirm round, far under any cap
    val star = (2L to 31L).map(i => (1L, i))
    val out = ConnectedComponents.run(pairs(star: _*), maxRounds = 2)
    assert(out.filter(col("cluster_id") === 1L).count() == 31)
  }

  test("reliable-checkpoint mode converges identically to local mode") {
    // chain + star + disjoint pair: exercises multi-round convergence in
    // BOTH lineage-cut modes. On a real cluster the reliable mode's files
    // survive executor loss; here both must produce the same clustering
    // and the checkpoint dir must actually receive files (proof the
    // reliable path ran, not the local one).
    val dir = java.nio.file.Files
      .createTempDirectory("graft_cc_ckpt").toString
    val edges = (1L to 29L).map(i => (i, i + 1)) ++
      (101L to 110L).map(i => (100L, i)) :+ ((200L, 201L))
    val local = ConnectedComponents.run(pairs(edges: _*))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    val reliable = ConnectedComponents
      .run(pairs(edges: _*), checkpointDir = Some(dir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(reliable == local)
    val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(p => java.nio.file.Files.isRegularFile(p)).count()
    assert(wrote > 0, "reliable mode must write checkpoint files")
  }
}

class StreamingDedupSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("watermarked stream dedup keeps first arrival per content hash") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = graft.streaming.StreamingOps
      .streamingDedup(mem.toDF().toDF("doc_id", "ts", "text"))
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      // batch 1: two distinct texts + one in-batch duplicate
      mem.addData(
        (1L, ts("2024-01-01 10:00:00"), "alpha beta"),
        (2L, ts("2024-01-01 10:01:00"), "gamma delta"),
        (3L, ts("2024-01-01 10:02:00"), "alpha beta"))
      q.processAllAvailable()
      // batch 2: cross-batch duplicate (inside the watermark horizon)
      // plus one genuinely new text
      mem.addData(
        (4L, ts("2024-01-01 10:30:00"), "gamma delta"),
        (5L, ts("2024-01-01 10:31:00"), "epsilon zeta"))
      q.processAllAvailable()
      val ids = spark.sql("SELECT doc_id FROM dedup_out")
        .collect().map(_.getLong(0)).sorted
      // doc 3 (in-batch dup) and doc 4 (cross-batch dup) dropped
      assert(ids.toSeq == Seq(1L, 2L, 5L))
    } finally q.stop()
  }
}

class StreamingIntervalJoinSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("stream-stream interval join attributes clicks within the horizon") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val imp = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp, Double)]
    val clk = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp, Double)]
    val q = graft.streaming.StreamingOps.streamingIntervalJoin(
        imp.toDF().toDF("user_id", "ts", "value"),
        clk.toDF().toDF("user_id", "ts", "value"))
      .writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").start()
    try {
      imp.addData(
        (1L, ts("2024-01-01 10:00:00"), 1.0),
        (2L, ts("2024-01-01 10:00:00"), 2.0))
      // user 1 clicks 30 min after the impression (in-horizon), user 2
      // clicks 2h after (outside), user 3 clicks with no impression
      clk.addData(
        (1L, ts("2024-01-01 10:30:00"), 0.0),
        (2L, ts("2024-01-01 12:00:00"), 0.0),
        (3L, ts("2024-01-01 10:10:00"), 0.0))
      q.processAllAvailable()
      // a click arriving in a LATER batch still joins (both sides in
      // state within the watermark)
      imp.addData((4L, ts("2024-01-01 10:20:00"), 4.0))
      clk.addData((4L, ts("2024-01-01 10:40:00"), 0.0))
      q.processAllAvailable()
      val rows = spark.sql("SELECT user_id, imp_value FROM ssj_out")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).sorted
      assert(rows.toSeq == Seq((1L, 1.0), (4L, 4.0)))
    } finally q.stop()
  }
}

class DecontaminateSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("benchmark docs are fully contaminated; disjoint docs are kept") {
    val d = "/root/testdata/sf0.001"
    val out = graft.SparkEntry.queries("dd8_decontaminate")(spark, d)
      .persist()
    val nDocs = Tables.documents(spark, d).count()
    assert(out.count() == nDocs) // one audit row per corpus doc
    // every benchmark doc collides with itself: frac = 1.0, dropped
    val benchRows = out.filter(col("doc_id") % 29 === 0)
    assert(benchRows.count() > 0)
    assert(benchRows.filter(col("contamination_frac") =!= 1.0 ||
      col("keep")).count() == 0)
    // audit invariant: hits never exceed the doc's gram count
    assert(out.filter(col("n_hit") > col("n_grams")).count() == 0)
    // the threshold is the decision boundary, exactly
    assert(out.filter(col("keep") =!=
      (col("contamination_frac") < 0.5)).count() == 0)
    out.unpersist()
  }

  test("a near-verbatim copy of a benchmark doc is caught and dropped") {
    import spark.implicits._
    import graft.operators.TextOps._
    // two docs: one IS the benchmark member (id 0, id%29==0), the other
    // shares a long verbatim span (contaminated) plus fresh tail tokens
    val benchText = "a b c d e f g h i j k l"
    val leaked = "a b c d e f g h i j x1 x2"   // 8/10 grams shared
    val clean = "p q r s t u v w x y z0 z1"
    val docs = Seq((0L, benchText), (1L, leaked), (2L, clean))
      .toDF("doc_id", "text")
    val grams = array_distinct(shingles(col("text"), 3))
    val g = docs.select(col("doc_id"), grams.as("grams"))
    val bench = g.filter(col("doc_id") % 29 === 0)
      .select(explode(col("grams")).as("gram"))
      .agg(collect_set(col("gram")).as("bset"))
    val hit = g.crossJoin(broadcast(bench))
      .select(col("doc_id"),
        (size(array_intersect(col("grams"), col("bset"))).cast("double") /
          size(col("grams")).cast("double")).as("frac"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(hit(0L) == 1.0)
    assert(hit(1L) == 0.8)  // 8 of 10 distinct trigrams leaked
    assert(hit(2L) == 0.0)
  }
}

class SemDedupSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("semdedup audit invariants hold on the fixture corpus") {
    val d = "/root/testdata/sf0.001"
    val out = graft.SparkEntry.queries("sim5_semdedup")(spark, d).persist()
    val nVecs = Tables.embeddings(spark, d).count()
    assert(out.count() == nVecs) // one decision row per vector
    // keep ⇔ no lower-id near neighbor in the cluster
    assert(out.filter(col("keep") =!= (col("n_near") === 0)).count() == 0)
    // a dropped vector must name the cosine that crowded it out
    assert(out.filter(!col("keep") &&
      (col("max_cos").isNull || col("max_cos") < 0.4)).count() == 0)
    // kept vectors carry no max_cos (no qualifying neighbor existed)
    assert(out.filter(col("keep") && col("max_cos").isNotNull).count() == 0)
    // the min vec_id of every cluster has no lower-id mate → always kept
    val minIds = out.groupBy("cid").agg(min("vec_id").as("vec_id"))
    assert(out.join(minIds, Seq("cid", "vec_id")).filter(!col("keep"))
      .count() == 0)
    out.unpersist()
  }
}

class SurprisalSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("surprisal audit conserves tokens and stays in the positive band") {
    val d = "/root/testdata/sf0.001"
    val out = graft.SparkEntry.queries("tx10_unigram_surprisal")(spark, d)
      .persist()
    import graft.operators.TextOps._
    val total = Tables.documents(spark, d)
      .select(explode(tokens(col("text")))).count()
    val summed = out.agg(sum("n_tokens")).head().getLong(0)
    assert(summed == total) // every token instance scored exactly once
    // −ln p > 0 for any token that appears (p < 1 with vocab > 1)
    assert(out.filter(col("mean_surprisal") <= 0.0).count() == 0)
    assert(out.filter(col("keep") =!= (col("mean_surprisal") >= 3.0 &&
      col("mean_surprisal") <= 3.45)).count() == 0)
    out.unpersist()
  }
}

class DomainMixtureSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("mixture rates respect the no-upsampling binding constraint") {
    val d = "/root/testdata/sf0.001"
    val out = graft.SparkEntry.queries("mix1_domain_mixture")(spark, d)
      .persist()
    val perSrc = out.select("source", "target_frac", "sample_rate")
      .distinct().persist()
    // no source is upsampled, and the binding source is kept whole
    assert(perSrc.filter(col("sample_rate") > 1.0).count() == 0)
    assert(perSrc.filter(col("sample_rate") === 1.0).count() >= 1)
    // target fractions are a distribution over the present sources
    val tf = perSrc.agg(sum("target_frac")).head().getDouble(0)
    assert(math.abs(tf - 1.0) < 1e-9)
    // the decision column follows the per-source rate deterministically:
    // re-running the query yields the identical keep set
    val again = graft.SparkEntry.queries("mix1_domain_mixture")(spark, d)
    assert(out.exceptAll(again).count() == 0 &&
      again.exceptAll(out).count() == 0)
    perSrc.unpersist(); out.unpersist()
  }
}

class SaltedJoinSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  private def skewed = {
    import spark.implicits._
    // one hot key (80% of rows) + a cold tail — the layout salting exists for
    (1 to 500).map(i =>
      (i.toLong, if (i <= 400) "hot" else s"k${i % 7}", i * 1.5))
      .toDF("row_id", "k", "v")
  }
  private def dim = {
    import spark.implicits._
    (Seq("hot") ++ (0 until 7).map(i => s"k$i"))
      .zipWithIndex.map { case (k, i) => (k, i * 10.0) }.toDF("k", "w")
  }

  test("salted join result is identical to the plain join (inner and left)") {
    for (jt <- Seq("inner", "left")) {
      val plain = skewed.join(dim, Seq("k"), jt)
      val salted = graft.operators.SaltedJoin.join(
        skewed, dim, Seq("k"), spreadCol = col("row_id"), joinType = jt)
      assert(salted.columns.toSeq == plain.columns.toSeq)
      assert(plain.exceptAll(salted).count() == 0 &&
        salted.exceptAll(plain).count() == 0)
    }
  }

  test("salt actually spreads the hot key across buckets") {
    val buckets = skewed
      .withColumn("salt", pmod(hash(col("row_id")), lit(8)))
      .filter(col("k") === "hot")
      .select("salt").distinct().count()
    assert(buckets == 8) // 400 hot rows land in all 8 salt buckets
  }

  test("saltBuckets = 1 degenerates to the plain join") {
    val plain = skewed.join(dim, Seq("k"), "inner")
    val one = graft.operators.SaltedJoin.join(
      skewed, dim, Seq("k"), spreadCol = col("row_id"), saltBuckets = 1)
    assert(plain.exceptAll(one).count() == 0 &&
      one.exceptAll(plain).count() == 0)
  }

  test("right/full outer join types are rejected") {
    // the replicated right side would emit each unmatched right row once
    // per salt replica — the identity with the plain join cannot hold
    for (jt <- Seq("right", "right_outer", "full", "full_outer", "outer")) {
      val e = intercept[IllegalArgumentException] {
        graft.operators.SaltedJoin.join(
          skewed, dim, Seq("k"), spreadCol = col("row_id"), joinType = jt)
      }
      assert(e.getMessage.contains("salt replica"))
    }
    // left-flavored types still pass the guard
    for (jt <- Seq("inner", "left", "left_outer", "left_semi", "left_anti"))
      graft.operators.SaltedJoin.join(
        skewed, dim, Seq("k"), spreadCol = col("row_id"), joinType = jt)
  }
}

class GridQuantilesSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("grid quantiles equal brute-force order statistics per group") {
    val d = "/root/testdata/sf0.001"
    val out = graft.SparkEntry.queries("a22_grid_quantiles")(spark, d)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5))).toMap
    val byType = Tables.events(spark, d)
      .select(col("event_type"),
        floor(col("value") * 100.0 + 0.5).cast("long").as("vc"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (t, rs) => t -> rs.map(_._2).sorted }
    def pick(s: Seq[Long], pct: Int): Double = {
      val pos = (s.length * pct + 99) / 100 // ceil(pct·n/100), 1-based
      s(pos - 1) / 100.0
    }
    for ((t, s) <- byType) {
      val (n, p25, p50, p75, p95) = out(t)
      assert(n == s.length)
      assert(p25 == pick(s, 25) && p50 == pick(s, 50) &&
        p75 == pick(s, 75) && p95 == pick(s, 95))
      assert(p25 <= p50 && p50 <= p75 && p75 <= p95)
    }
  }
}

class PassageDedupSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("passage counts and duplicate fractions are consistent") {
    val d = "/root/testdata/sf0.001"
    val out = graft.SparkEntry.queries("dd9_passage_dedup")(spark, d)
      .persist()
    val docs = Tables.documents(spark, d)
    assert(out.count() == docs.count())
    // n_passages = ceil(tokens/8) for every doc
    val expected = docs.select(col("doc_id"),
      ceil(size(split(col("text"), " ")) / lit(8.0)).cast("long")
        .as("exp_p"))
    val bad = out.join(expected, "doc_id")
      .filter(col("n_passages") =!= col("exp_p")).count()
    assert(bad == 0)
    assert(out.filter(col("n_dup") > col("n_passages")).count() == 0)
    // docs whose full text duplicates another doc must be 100% duplicated
    val dupTexts = docs.groupBy(md5(col("text")).as("h"))
      .agg(count(lit(1)).as("c"), collect_list("doc_id").as("ids"))
      .filter(col("c") > 1)
      .select(explode(col("ids")).as("doc_id"))
    val notFull = out.join(dupTexts, "doc_id")
      .filter(col("dup_frac") < 1.0).count()
    assert(notFull == 0)
    out.unpersist()
  }
}

class TokenBudgetSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("budget sampling: rates bounded, budget respected, sqrt tilt") {
    val d = "/root/testdata/sf0.001"
    val out = graft.SparkEntry.queries("mix2_token_budget")(spark, d)
      .persist()
    val perSrc = out
      .select("source", "n_tokens_source", "target_frac", "sample_rate")
      .distinct().collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3)))
    assert(perSrc.forall(_._4 <= 1.0) && perSrc.forall(_._4 > 0.0))
    assert(math.abs(perSrc.map(_._3).sum - 1.0) < 1e-9)
    // expected sampled tokens never exceed the B = 0.5·total budget
    val total = perSrc.map(_._2).sum.toDouble
    val sampled = perSrc.map(p => p._4 * p._2).sum
    assert(sampled <= 0.5 * total * (1.0 + 1e-9))
    // temperature tilt: the smallest source keeps a larger fraction of
    // itself than the largest source does
    val smallest = perSrc.minBy(_._2); val largest = perSrc.maxBy(_._2)
    assert(smallest._4 >= largest._4)
    out.unpersist()
  }
}

class PqIndexSpec extends SparkSpec {
  import org.apache.spark.sql.functions._
  import graft.operators.PqIndex

  private val Dim = 64
  private def qvFrame = Tables.embeddings(spark, "/root/testdata/sf0.001")
    .select(col("vec_id"),
      transform(col("embedding"),
        x => floor(x.cast("double") * 1000000.0 + 0.5).cast("long"))
        .as("qv"))

  test("codes are valid and the ADC self-score is the reconstruction dot") {
    val rows = qvFrame
      .select(col("vec_id"), col("qv"),
        PqIndex.encode(PqIndex.dls(col("qv"), Dim)).as("codes"),
        PqIndex.adc(PqIndex.encode(PqIndex.dls(col("qv"), Dim)),
          PqIndex.luts(col("qv"), Dim)).as("self_adc"))
      .limit(20).collect()
    val books = PqIndex.books(Dim)
    val sub = Dim / PqIndex.M
    rows.foreach { r =>
      val qv = r.getSeq[Long](1)
      val codes = r.getSeq[Long](2)
      assert(codes.length == PqIndex.M)
      assert(codes.forall(c => c >= 0 && c < PqIndex.K))
      // reference encode: per-subspace argmin of the squared distance
      val expCodes = (0 until PqIndex.M).map { m =>
        val sv = qv.slice(m * sub, (m + 1) * sub)
        val dists = books(m).map(w =>
          sv.zip(w).map { case (x, c) => (x - c) * (x - c) }.sum)
        dists.indexOf(dists.min).toLong
      }
      assert(codes == expCodes)
      // ADC(v, codes(v)) must equal dot(v, reconstruction(codes))
      val recon = (0 until PqIndex.M).flatMap(m => books(m)(codes(m).toInt))
      val expAdc = qv.zip(recon).map { case (x, c) => x * c }.sum
      assert(r.getLong(3) == expAdc)
    }
  }

  test("exact rerank recovers the IVF-exact top-k for most of the pool") {
    // sim4 scores the SAME probed lists with exact cosines; sim6's ADC
    // pool (R = 50 per query) + exact rerank should recover most of that
    // top-10 — the PQ approximation only reorders the pool boundary.
    val d = "/root/testdata/sf0.001"
    val exact = graft.SparkEntry.queries("sim4_ivf_topk")(spark, d)
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = graft.SparkEntry.queries("sim6_pq_topk")(spark, d)
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val overlap = exact.intersect(pq).size.toDouble / exact.size
    assert(overlap >= 0.6, s"IVF-exact recall through the ADC pool: $overlap")
  }
}

class PartitionPruneSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("a filter on the partition column prunes files, not just rows") {
    val d = "/root/testdata/sf0.001"
    val out = "/tmp/graft_prune_spec"
    Tables.events(spark, d)
      .select(col("event_id"), col("value"), col("event_type"))
      .write.mode("overwrite").partitionBy("event_type").parquet(out)
    val all = spark.read.parquet(out)
    val one = all.filter(col("event_type") === "purchase")
    // the predicate must land in PartitionFilters (directory-level prune),
    // NOT PushedFilters (row-group level) — at 100 TB this is the
    // difference between listing one directory and scanning every file
    val plan = one.queryExecution.executedPlan.toString
    val scanLine = plan.linesIterator
      .find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("event_type"),
      s"partition filter not applied: $scanLine")
    // and the files actually read are the pruned subset — ask the scan
    // node's own file index what survives its partition filters
    // (DataFrame.inputFiles lists the RELATION's files, pre-prune)
    val scan = one.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    val prunedFiles = scan.relation.location
      .listFiles(scan.partitionFilters, scan.dataFilters)
      .map(_.files.size).sum
    val allFiles = all.inputFiles.length
    assert(prunedFiles > 0 && prunedFiles < allFiles,
      s"expected pruning: $prunedFiles of $allFiles files")
    assert(one.count() ==
      Tables.events(spark, d).filter(col("event_type") === "purchase").count())
  }
}

class IncrementalGoldSpec extends SparkSpec {
  import org.apache.spark.sql.functions._
  import graft.operators.{GoldFeatures, IncrementalGold}

  private def bronze = Tables.events(spark, "/root/testdata/sf0.001")

  test("old gold rows are invariant under appended data") {
    val cutoff = bronze.agg(date_sub(max(to_date(col("ts"))), 3)).head().getDate(0)
    val old = bronze.filter(to_date(col("ts")) < lit(cutoff))
    val fullOld = GoldFeatures.goldTableFused(bronze)
      .filter(col("day") < lit(cutoff))
    val oldOnly = GoldFeatures.goldTableFused(old)
    assert(fullOld.exceptAll(oldOnly).count() == 0 &&
      oldOnly.exceptAll(fullOld).count() == 0)
  }

  test("bounded-lookback incremental refresh equals the full recompute") {
    val cutoff = bronze.agg(date_sub(max(to_date(col("ts"))), 3)).head().getDate(0)
    val batch = bronze.filter(to_date(col("ts")) >= lit(cutoff))
    val incr = IncrementalGold.refresh(spark, bronze, batch)
    val full = GoldFeatures.goldTableFused(bronze)
      .filter(col("day") >= lit(cutoff))
    assert(incr.count() > 0)
    assert(full.exceptAll(incr).count() == 0 &&
      incr.exceptAll(full).count() == 0)
  }

  test("goldKeys fast path: fresh keys match the full recompute; STALE " +
    "keys (half-merged gold) are healed by the orphan union, not corrupt") {
    val cutoff = bronze.agg(date_sub(max(to_date(col("ts"))), 3))
      .head().getDate(0)
    val batch = bronze.filter(to_date(col("ts")) >= lit(cutoff))
    val full = GoldFeatures.goldTableFused(bronze)
      .filter(col("day") >= lit(cutoff))
    // the true pre-batch gold key set: bronze's distinct (user, day)
    // before the cutoff — the invariant the fast path documents
    val trueKeys = bronze
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      .filter(col("day") < lit(cutoff))
    val fresh = IncrementalGold.refresh(spark, bronze, batch, Some(trueKeys))
    assert(full.exceptAll(fresh).count() == 0 &&
      fresh.exceptAll(full).count() == 0)
    // stale: one user's most recent pre-batch days vanished from gold
    // (wiped partition / unretried failed merge). Those days sit INSIDE
    // the lookback window, so the r11 fast path would rank wrong slices;
    // the orphan union must re-add them from the bounded bronze sweep.
    val u = bronze.select("user_id").head().getLong(0)
    val staleKeys = trueKeys.filter(!(col("user_id") === u &&
      col("day") >= date_sub(lit(cutoff), 6)))
    val stale = IncrementalGold.refresh(spark, bronze, batch, Some(staleKeys))
    assert(full.exceptAll(stale).count() == 0 &&
      stale.exceptAll(full).count() == 0)
  }
}

class StreamingGoldSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("streaming gold sink converges to the full batch recompute") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_sgold").toString
    val (bronze, gold) = (s"$dir/bronze", s"$dir/gold")
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp, Double)]
    val q = graft.streaming.StreamingOps.goldSink(
      mem.toDF().toDF("user_id", "ts", "value"), bronze, gold, s"$dir/cp")
    // history batch: 6 trading days × 2 bars for two users, then an
    // incremental day that can see the prior days through its windows
    def bars(day: Int) = Seq(
      (1L, ts(f"2024-01-$day%02d 10:00:00"), 100.0 + day),
      (1L, ts(f"2024-01-$day%02d 11:00:00"), 101.0 + day),
      (2L, ts(f"2024-01-$day%02d 10:30:00"), 50.0 + day))
    try {
      mem.addData((1 to 6).flatMap(bars))
      q.processAllAvailable()
      assert(spark.read.parquet(gold).count() > 0)
      mem.addData(bars(7))
      q.processAllAvailable()
      val streamed = spark.read.parquet(gold)
      val full = graft.operators.GoldFeatures.goldTableFused(
        spark.read.parquet(bronze).drop("batch_id"))
      // column order differs through the partitioned write; align by name
      val aligned = streamed.select(full.columns.map(col).toIndexedSeq: _*)
      assert(full.exceptAll(aligned).count() == 0 &&
        aligned.exceptAll(full).count() == 0)
      // day 7's rows exist for both users and were the only partition
      // rewritten by the second batch
      assert(streamed.filter(col("day") === lit("2024-01-07")).count() == 2)
    } finally q.stop()
  }

  test("redelivered micro-batch leaves bronze and gold unchanged") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_sgold2").toString
    val (bronze, gold) = (s"$dir/bronze", s"$dir/gold")
    val b1 = Seq(
      (1L, ts("2024-01-01 10:00:00"), 100.0),
      (1L, ts("2024-01-02 10:00:00"), 101.0),
      (2L, ts("2024-01-01 10:30:00"), 50.0)).toDF("user_id", "ts", "value")
    val b2 = Seq(
      (1L, ts("2024-01-03 10:00:00"), 102.0)).toDF("user_id", "ts", "value")
    graft.streaming.StreamingOps.processGoldBatch(b1, bronze, gold, 0L)
    graft.streaming.StreamingOps.processGoldBatch(b2, bronze, gold, 1L)
    val bronzeOnce = spark.read.parquet(bronze).drop("batch_id").collect()
    val goldOnce = spark.read.parquet(gold).collect()
    // crash-redelivery of the last batch: foreachBatch is at-least-once,
    // the deterministic batch_id=N overwrite must converge, not append
    graft.streaming.StreamingOps.processGoldBatch(b2, bronze, gold, 1L)
    val bronzeTwice = spark.read.parquet(bronze).drop("batch_id")
    assert(bronzeTwice.count() == bronzeOnce.length)
    assert(spark.read.parquet(gold).collect().toSet == goldOnce.toSet)
  }
}

class ScalerLeakageSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("test rows are scaled by TRAIN statistics, never their own") {
    val d = "/root/testdata/sf0.001"
    val out = graft.SparkEntry.queries("mlprep_scaler")(spark, d).persist()
    // recompute the train stats independently (plain Scala, full precision)
    val rows = Tables.events(spark, d)
      .select(to_date(col("ts")).as("day"), col("value"))
      .collect().map(r => (r.getDate(0).toLocalDate, r.getDouble(1)))
    val cutoff = rows.map(_._1).max.minusDays(7)
    val train = rows.filter(_._1.isBefore(cutoff)).map(_._2)
    val (mn, mx) = (train.min, train.max)
    // a test row scaled by its own (full-data) min/max would differ
    // whenever the test span extends the range; check the minmax column
    // against TRAIN bounds on a test row whose value exceeds them
    val testRows = out.filter(col("role") === "test")
      .select("value", "minmax").collect()
      .map(r => (r.getDouble(0), r.getDouble(1)))
    assert(testRows.nonEmpty)
    testRows.foreach { case (v, m) =>
      assert(math.abs(m - (v - mn) / (mx - mn)) < 1e-12,
        s"test row $v scaled with non-train bounds")
    }
    // leakage canary: if any test value lies outside the train range, its
    // train-scaled minmax must leave [0, 1] — by construction it cannot
    // have been rescaled by full-data bounds
    val outside = testRows.filter { case (v, _) => v < mn || v > mx }
    outside.foreach { case (_, m) => assert(m < 0.0 || m > 1.0) }
    out.unpersist()
  }
}

class MmrSpec extends SparkSpec {
  import org.apache.spark.sql.functions._
  import graft.operators.Mmr

  private def vec(xs: Double*): Array[Long] =
    xs.map(x => math.floor(x * 1000000.0 + 0.5).toLong).toArray

  test("greedy MMR: first pick is top relevance; redundant near-twin deferred") {
    // c1 top-rel; c2 nearly identical to c1 (redundant); c3 orthogonal,
    // lower rel. With lambda=0.5 MMR must pick c1, then c3 over c2.
    val pool = Seq(
      Mmr.Cand(1L, 1L, 0.95, vec(1.0, 0.0)),
      Mmr.Cand(1L, 2L, 0.94, vec(0.999, 0.01)),
      Mmr.Cand(1L, 3L, 0.60, vec(0.0, 1.0)))
    val picks = Mmr.greedy(pool, 3, 0.5)
    assert(picks.map(_.cand_id) == Seq(1L, 3L, 2L))
    assert(picks.head.mmr_score == 0.5 * 0.95) // no redundancy on pick 1
  }

  test("lambda=1 degenerates to pure relevance ranking") {
    val pool = Seq(
      Mmr.Cand(1L, 10L, 0.3, vec(1.0, 0.0)),
      Mmr.Cand(1L, 11L, 0.9, vec(1.0, 0.0)),
      Mmr.Cand(1L, 12L, 0.6, vec(1.0, 0.0)))
    assert(Mmr.greedy(pool, 3, 1.0).map(_.cand_id) == Seq(11L, 12L, 10L))
  }

  test("distributed rerank matches the local greedy per query") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val pool = for (q <- 1L to 4L; c <- 1L to 20L) yield
      Mmr.Cand(q, c, rnd.nextDouble(),
        vec(rnd.nextDouble(), rnd.nextDouble(), rnd.nextDouble()))
    val df = pool.toDF()
    val dist = Mmr.rerank(df, k = 5, lambda = 0.7)
      .collect().groupBy(_.query_id)
    pool.groupBy(_.query_id).foreach { case (q, cands) =>
      val local = Mmr.greedy(cands.toSeq, 5, 0.7)
      assert(dist(q).sortBy(_.rank).toSeq == local)
    }
    // diversity property: MMR's selection has lower max pairwise
    // similarity than the pure-relevance top-k for at least one query
    val better = pool.groupBy(_.query_id).count { case (q, cands) =>
      val byId = cands.map(c => c.cand_id -> c.qv).toMap
      def maxSim(ids: Seq[Long]) =
        (for { a <- ids; b <- ids if a < b } yield {
          val (x, y) = (byId(a), byId(b))
          val dot = x.zip(y).map { case (i, j) => i * j }.sum.toDouble
          dot / (math.sqrt(x.map(i => i * i).sum.toDouble) *
                 math.sqrt(y.map(i => i * i).sum.toDouble))
        }).max
      val mmrIds = Mmr.greedy(cands.toSeq, 5, 0.7).map(_.cand_id)
      val topIds = cands.toSeq.sortBy(c => (-c.rel, c.cand_id))
        .take(5).map(_.cand_id)
      maxSim(mmrIds) <= maxSim(topIds)
    }
    assert(better == 4, s"MMR never less redundant: $better/4")
  }
}

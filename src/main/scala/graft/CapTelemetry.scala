package graft

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions.{broadcast, col, count, lit}

/** Telemetry for silent-drop guards (LSH bucket caps, stop-shingle caps).
  *
  * A cap that protects a join from skew is a RECALL knob at scale — a
  * pipeline must be able to see what it cost. Queries route the HOT set
  * (the rows a cap is about to drop) through [[counted]]; Bench reads the
  * counters after the run and emits them in its JSON line
  * (`"telemetry": {...}`). At fixture scale every counter is 0 — the caps
  * are sized never to fire there; non-zero values at production scale are
  * the signal to re-shard or raise the cap.
  *
  * Mechanism: a `LongAccumulator` added to by a narrow per-row map over
  * the hot frame. An accumulator (unlike `Dataset.observe`, whose
  * CollectMetrics node AQE does not surface from inside broadcast-exchange
  * subtrees — where every cap's hot set lives, as the build side of its
  * anti-join) reports from ANY task. The map touches only the hot frame —
  * a bucket-size aggregate that is empty in the unskewed case — so the
  * codegen break is on O(hot buckets) rows, never the data path. Each
  * query invocation registers a fresh accumulator per metric (latest
  * wins), so Bench's warmup + iterations don't accumulate across runs;
  * within one run the hot frame executes once (its broadcast exchange is
  * reused across consumers).
  */
object CapTelemetry {
  private val reg = scala.collection.concurrent
    .TrieMap.empty[String, org.apache.spark.util.LongAccumulator]

  /** Pass-through of `df` that adds `df[weightCol]` (a LONG column — e.g.
    * the per-bucket row count) of every row to the metric `name`. */
  def counted(df: DataFrame, name: String, weightCol: String): DataFrame = {
    val acc = df.sparkSession.sparkContext.longAccumulator("graft.cap." + name)
    reg.put(name, acc)
    val idx = df.schema.fieldIndex(weightCol)
    df.mapPartitions { it => it.map { r => acc.add(r.getLong(idx)); r } }(
      Encoders.row(df.schema))
  }

  /** `df` without the rows of its `keys` groups that hold more than `cap`
    * rows, the dropped rows counted as `name`: a hash-agg of group sizes
    * and a broadcast anti-join of the (tiny, normally empty) hot set —
    * never a window sort over `df`. */
  def capped(df: DataFrame, keys: Seq[String], cap: Long,
             name: String): DataFrame = {
    val hot = counted(df.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("__n")).filter(col("__n") > cap), name, "__n")
      .select(keys.map(col): _*)
    df.join(broadcast(hot), keys, "left_anti")
  }

  /** Latest counter values per metric (0 = nothing dropped). */
  def snapshot(): Map[String, Long] =
    reg.toMap.map { case (n, a) => n -> a.value.longValue() }
}

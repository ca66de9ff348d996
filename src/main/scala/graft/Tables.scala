package graft

import graft.operators.ListedParquet
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-provided deterministic parquet fixtures
  * (`TESTDATA.md`): TPC-H-ish star schema + `events`/`documents`/`embeddings`.
  *
  * All loads are plain parquet scans so Catalyst's vectorized reader,
  * predicate pushdown, and column pruning apply untouched. The schema
  * comes from the table file's footer, read on the driver
  * ([[graft.operators.ListedParquet.readPath]]), as a catalog serves it
  * from table metadata: no Spark job runs to infer it, so building a
  * query launches none of its own. At cluster scale the same call sites
  * take a Delta/Iceberg path; the query code never assumes a storage
  * layout beyond "columnar with pushdown".
  */
object Tables {
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    ListedParquet.readPath(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame     = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = t(s, d, "lineitem")

  /** `events.ts` has shipped in three physical encodings across fixture
    * generations, so the load is schema-adaptive rather than assuming one:
    *
    *  - parquet TIMESTAMP(NANOS): Spark 4 refuses to scan it as a timestamp;
    *    with `spark.sql.legacy.parquet.nanosAsLong=true` (set at session
    *    build, [[GraftSession.builder]]) it surfaces as [[LongType]] raw
    *    nanos, which we truncate to micros — exactly DuckDB's view of the
    *    same file, so oracle comparisons see identical instants.
    *  - parquet timestamp[us] with isAdjustedToUTC=false: surfaces as
    *    [[TimestampNTZType]]; cast to session-TZ [[TimestampType]] (sessions
    *    are pinned UTC, so the wall-clock is reinterpreted as the same
    *    instant DuckDB reports for the naive column).
    *  - timestamp[us] UTC-adjusted: already [[TimestampType]], pass through.
    *
    * The nanos conf must come from session construction: it is consulted
    * again when the physical scan is built, so setting it here (a global
    * mutation from a table loader) would leak into unrelated reads or be
    * gone before the scan executes. It is only *required* when the file is
    * actually NANOS — with a micros file the conf is inert either way.
    */
  /** Guards the NANOS-as-long truncation in [[events]]: a LongType `ts` is
    * only trustworthy as raw nanos if its magnitude says so (2020s epoch
    * nanos ≈ 1.7e18; micros ≈ 1.7e15). A fixture shipping epoch-MICROS as
    * plain int64 would otherwise be silently scaled 1000× too small and
    * surface later as opaque oracle mismatches. One `limit(1)` row read per
    * (app, dir) — memoized, so repeated loads cost nothing; at cluster scale
    * this is a single-split single-row scan, not a table scan.
    */
  private val nanosChecked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def assertLongTsIsNanos(raw: DataFrame, d: String): Unit =
    if (!nanosChecked.contains(d)) {
      val first = raw.select("ts").limit(1).collect()
      first.headOption.filterNot(_.isNullAt(0)).map(_.getLong(0)).foreach { v =>
        if (math.abs(v) < 1e17.toLong) throw new IllegalStateException(
          s"events.ts in $d is int64 with magnitude $v — that is NOT epoch " +
          "nanos (expected ~1e18). Refusing the nanos→micros truncation; " +
          "fix the fixture encoding or teach Tables.events the new unit.")
      }
      nanosChecked.add(d)
    }

  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = t(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        assertLongTsIsNanos(raw, d)
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType  => raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType     => raw
      case other => throw new IllegalStateException(
        s"events.ts read as unsupported type $other; if the fixture is " +
        "TIMESTAMP(NANOS) the session needs " +
        "spark.sql.legacy.parquet.nanosAsLong=true at build " +
        "(graft.GraftSession.builder sets it)")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")

  /** Fan a narrow scan out to all cores when the source arrives as fewer
    * input splits than the cluster has slots — a single small parquet file
    * is ONE split, which would serialize expensive per-row expressions
    * (md5 shingles, 64-dim dot products) onto one core. At scale the
    * condition is false (real tables have thousands of splits) and this is
    * a no-op; locally it costs one shuffle of a sub-MB frame. Explicit
    * partition count, so AQE cannot coalesce it back down.
    *
    * Gated on `inputFiles` (analysis-only file listing) rather than
    * `df.rdd.getNumPartitions`, which would force a full physical-plan→RDD
    * conversion per call just to count splits. Files under-count splits for
    * large multi-rowgroup files, but that errs the cheap way: many files →
    * no-op (correct at scale), one small fixture file → fan out (the case
    * this exists for). */
  def fanOut(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (df.inputFiles.length < par) df.repartition(par) else df
  }
}

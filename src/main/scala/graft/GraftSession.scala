package graft

import org.apache.spark.sql.SparkSession

/** One place that knows the session configuration every graft entrypoint
  * (Bench / Verify / Smoke / Plans / Scratch / specs) needs. Nothing in the
  * query code mutates session conf at runtime — configs that change how
  * storage is *read* (like parquet NANOS handling) belong at session build,
  * where they apply uniformly to planning AND execution, instead of leaking
  * from one table loader into every later read in the session.
  */
object GraftSession {
  /** Session-build configs graft readers may depend on.
    *
    * `nanosAsLong`: when an `events` fixture generation stores `ts` as
    * parquet TIMESTAMP(NANOS) (which Spark 4 otherwise refuses to scan),
    * this surfaces it as raw nanos for [[Tables.events]] to truncate —
    * matching DuckDB's view of the same file. For micros-encoded fixtures
    * the conf is inert, so it is always safe to set; it is consulted both
    * at schema inference and at physical-scan construction, so it must be
    * set before the first action rather than save/restored around a lazy
    * read.
    */
  val requiredConfigs: Map[String, String] = Map(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // native graft functions (ewm_nr, dot_long) in every session — the
    // standard extensions injection, so query code can call them without
    // per-session registration
    "spark.sql.extensions" -> "graft.functions.GraftExtensions",
    // r13: always use the sort-based shuffle writer. With shuffle
    // partitions sized to the core count (the local default), EVERY SQL
    // shuffle falls under the 200-partition bypass threshold, and the
    // bypass writer opens one file PER REDUCE PARTITION per map task and
    // then NIO-concatenates them — M×R file creates + copies per
    // exchange. jstack sampling of a hot aggregate showed the map tasks
    // spending most of their time in FileOutputStream.open0 /
    // copyFileStreamNIO, and a 30s A/B on that stage ran 2.6× more
    // iterations with the sort writer (one spillable buffer → ONE file +
    // index per map task). At cluster scale (partitions ≫ 200) the
    // bypass never engages, so this also makes local plans exercise the
    // same writer a production shuffle uses.
    "spark.shuffle.sort.bypassMergeThreshold" -> "1"
  )

  def builder(master: String, shufflePartitions: String): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    requiredConfigs.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }
  }

  /** The bench profile Bench and the dev mains (JobTally, Scratch,
    * StreamProfile) share, so their timings predict one another:
    * `local[SPARK_GRAFT_CPUS]` (default 32) with as many shuffle
    * partitions, plus the split and codegen-cache settings below. */
  def benchBuilder(): SparkSession.Builder = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    builder(s"local[$cpus]", cpus)
      // The fixture tables are ONE parquet file each (lineitem sf0.1 ≈
      // 11 MB), and the default 4 MB open-cost floor yields ~3 input
      // splits — scan-bound aggregations then run near-serial. A real
      // table at cluster scale is thousands of files; these two knobs
      // emulate that split count locally so the bench measures the
      // operator, not a single-file artifact. (Production keeps the
      // 128 MB default — more splits there would mean millions of tasks.)
      .config("spark.sql.files.maxPartitionBytes", "1m")
      .config("spark.sql.files.openCostInBytes", "131072")
      // default codegen cache is 100 compiled classes — the 84-query suite
      // needs several hundred, so the warmup pass's classes would be
      // evicted before the timed pass reuses them (re-paying janino
      // compilation inside timed queries).
      .config("spark.sql.codegenCacheMaxEntries", "5000")
  }
}

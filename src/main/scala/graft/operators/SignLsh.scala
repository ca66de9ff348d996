package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-table sign-LSH over quantized embedding vectors — the scale path
  * for ANN search and embedding near-dup detection (reference analog: the
  * pgvector-style similarity lookups in the reference's feature store; the
  * LSH family is the standard random-hyperplane scheme of Charikar 2002).
  *
  * Each of `tables` independent hash tables assigns a `bits`-bit bucket;
  * bit i of table t is the sign of a fixed difference hyperplane
  * `e_p1 - e_p2` (two coordinate axes), i.e. `qv[p1] >= qv[p2]`. The
  * (p1, p2) index pairs are pseudo-randomly derived from (t, i) at PLAN
  * time with integer arithmetic, so the same literal indices can be baked
  * into an equivalent DuckDB oracle — portability without a shared RNG.
  *
  * OR-amplification: a pair is a candidate if it collides in ANY table.
  * For true near-duplicates (cosine ≥ 0.99, collision prob per bit
  * p = 1 - θ/π ≈ 0.955) a 4×16-bit configuration recovers
  * 1-(1-p^16)^4 ≈ 93% of pairs; recall decays fast below cosine ~0.9 —
  * that is the designed behavior for near-DUP detection (dissimilar pairs
  * must not collide). For top-k ANN over weakly-similar corpora, shrink
  * `bits` toward log2(n / wanted_bucket_size) instead.
  *
  * Skew guard: buckets larger than `maxBucket` are dropped from the
  * candidate join (a bucket of size m contributes m² pairs). Use
  * [[overflow]] to observe what a given cap would drop — the operator
  * never drops silently in a pipeline where the caller logs that frame.
  */
object SignLsh {

  /** Fixed per-(table, bit) coordinate pairs. Deterministic, collision-free
    * (p1 ≠ p2), spread over the dim axes. */
  def planes(tables: Int, bits: Int, dim: Int): Seq[Seq[(Int, Int)]] =
    (0 until tables).map { t =>
      (0 until bits).map { i =>
        val idx = t * bits + i
        val p1 = (11 * idx + 3) % dim
        val p2r = (17 * idx + 29) % dim
        val p2 = if (p2r == p1) (p2r + 1) % dim else p2r
        (p1, p2)
      }
    }

  /** Bucket id of table `t` for a quantized array<long> column (1-based
    * element_at, matching SQL list indexing). */
  def bucket(qv: Column, plane: Seq[(Int, Int)]): Column =
    plane.zipWithIndex.map { case ((p1, p2), i) =>
      when(element_at(qv, p1 + 1) >= element_at(qv, p2 + 1), lit(1L << i))
        .otherwise(lit(0L))
    }.reduce(_ + _)

  /** DuckDB text equivalent of [[bucket]] over a list column named `qv`. */
  def oracleBucket(qv: String, plane: Seq[(Int, Int)]): String =
    plane.zipWithIndex.map { case ((p1, p2), i) =>
      s"(CASE WHEN $qv[${p1 + 1}] >= $qv[${p2 + 1}] THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")

  /** DuckDB text of a bucket table: one (vec_id, t, bucket) row per
    * table per row of relation `src` (which carries `vec_id` and the
    * quantized list `qv`) — the oracle replay of the stage's buckets. */
  def oracleTables(src: String, tables: Int, bits: Int, dim: Int): String = {
    val ps = planes(tables, bits, dim)
    (0 until tables).map { t =>
      s"SELECT vec_id, $t AS t, CAST(${oracleBucket("qv", ps(t))} AS BIGINT) AS bucket FROM $src"
    }.mkString("\n  UNION ALL ")
  }

  /** (id, table_id, bucket) — one row per table per vector, buckets larger
    * than `maxBucket` removed. Input must carry `idCol` and the quantized
    * vector column `qvCol`.
    *
    * The cap is a hash-agg of bucket sizes + a broadcast anti-join of the
    * (tiny, normally empty) hot set — not a window sort over every bucket
    * row. When `capMetric` is set, the dropped-row count is observed
    * through [[graft.CapTelemetry]] so the cap never drops silently. */
  def bucketize(df: DataFrame, idCol: String, qvCol: String,
                tables: Int, bits: Int, dim: Int,
                maxBucket: Long = Long.MaxValue,
                capMetric: Option[String] = None,
                persist: Boolean = true): DataFrame = {
    val ps = planes(tables, bits, dim)
    val structs = (0 until tables).map { t =>
      struct(lit(t).as("table_id"), bucket(col(qvCol), ps(t)).as("bucket"))
    }
    // persist (default): the bucket computation (quantize + per-bit sign
    // tests) is the cost center and every consumer reads it at least
    // twice — the cap's size-count branch + the kept branch here, and both
    // sides of the candidate self-join in [[candidatePairs]]. Callers that
    // already cache the quantized input and touch the bucket frame only
    // lightly (sim2's query path) pass persist=false: recomputing the
    // bucket bits from the cached input costs less than a materialization
    // barrier. (Bench/Verify clearCache() releases it after each query's
    // action.)
    val bkRaw = df.select(col(idCol), explode(array(structs: _*)).as("b"))
      .select(col(idCol), col("b.table_id").as("table_id"),
              col("b.bucket").as("bucket"))
    val bk = if (persist) bkRaw.persist() else bkRaw
    capBuckets(bk, maxBucket, capMetric)
  }

  /** Apply the bucket-size skew cap to an existing `(…, table_id, bucket)`
    * frame — the entry point for consumers of a MATERIALIZED bucket table
    * ([[EmbedStage]]): the cap is the consumer's skew policy, so it stays
    * on the query path even when the buckets themselves are precomputed.
    * Hash-agg of bucket sizes + broadcast anti-join of the (tiny, normally
    * empty) hot set; dropped rows observed via [[graft.CapTelemetry]]. */
  def capBuckets(bk: DataFrame, maxBucket: Long,
                 capMetric: Option[String]): DataFrame =
    if (maxBucket == Long.MaxValue) bk
    else {
      val sizes = bk.groupBy("table_id", "bucket")
        .agg(count(lit(1)).as("__n"))
      val hotRaw = sizes.filter(col("__n") > maxBucket)
      val hot = capMetric.fold(hotRaw)(m =>
        graft.CapTelemetry.counted(hotRaw, m, "__n"))
        .select("table_id", "bucket")
      bk.join(broadcast(hot), Seq("table_id", "bucket"), "left_anti")
    }

  /** Multiprobe set for a query bucket: the bucket itself plus every
    * 1-bit flip (Lv-et-al-2007-style probing restricted to Hamming
    * distance 1). Lets `bits` rise — smaller buckets, fewer candidates —
    * at equal recall: a near-neighbor differing in exactly one sign bit
    * is still probed. bits+1 probes per (query, table), query-side only. */
  def probeBuckets(bucketCol: Column, bits: Int): Column =
    array((bucketCol +: (0 until bits).map(i =>
      bucketCol.bitwiseXOR(lit(1L << i)))): _*)

  /** DuckDB list equivalent of [[probeBuckets]]. */
  def oracleProbeBuckets(bucket: String, bits: Int): String =
    ((bucket +: (0 until bits).map(i =>
      s"xor($bucket, CAST(${1L << i} AS BIGINT))")))
      .mkString("[", ", ", "]")

  /** Buckets a cap would drop: (table_id, bucket, n) with n > maxBucket —
    * the "logged overflow" companion to [[bucketize]]. */
  def overflow(df: DataFrame, idCol: String, qvCol: String,
               tables: Int, bits: Int, dim: Int,
               maxBucket: Long): DataFrame =
    bucketize(df, idCol, qvCol, tables, bits, dim)
      .groupBy("table_id", "bucket")
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > maxBucket)

  /** Distinct unordered candidate pairs (id_a < id_b) colliding in at
    * least one table. */
  def candidatePairs(df: DataFrame, idCol: String, qvCol: String,
                     tables: Int, bits: Int, dim: Int,
                     maxBucket: Long = Long.MaxValue,
                     capMetric: Option[String] = None): DataFrame =
    pairsFromBuckets(
      bucketize(df, idCol, qvCol, tables, bits, dim, maxBucket, capMetric),
      idCol)

  /** Candidate pairs from an already-bucketed (and already-capped)
    * `(idCol, table_id, bucket)` frame. */
  def pairsFromBuckets(bk: DataFrame, idCol: String): DataFrame = {
    val a = bk.select(col(idCol).as("id_a"), col("table_id"), col("bucket"))
    val b = bk.select(col(idCol).as("id_b"), col("table_id"), col("bucket"))
    a.join(b, Seq("table_id", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }
}

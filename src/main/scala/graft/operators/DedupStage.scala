package graft.operators

import graft.Tables
import graft.operators.TextOps._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The MATERIALIZED signature stage shared by the dedup family (dd3, dd5,
  * dd6, dd7, dd8, dd10, dd12 and dd13) — reference semantics per
  * `SURVEY.md` §2's dedup rows; the staging itself is the standard
  * large-corpus design (one signature pass, many consumers), not a
  * reference feature.
  *
  * Motivation: the dedup operators all start from the same expensive
  * substrate — md5 every shingle of every distinct document, aggregate the
  * K minhash permutation minima. Computed inline, each operator pays that
  * cost again (~2s per row at sf0.1; at 100 TB, one full corpus scan with
  * per-token md5 per row). A real pipeline computes the signature stage
  * ONCE and materializes it as a table the dedup operators read — signatures are
  * tiny relative to text (two longs + K ints + the hashed shingle set per
  * DISTINCT document, no raw text), and they are immutable for an immutable
  * corpus snapshot.
  *
  * This object is that stage: built once per (JVM, corpus dir, stage
  * version, corpus mtime), written to local scratch as three parquet
  * tables, then served as plain reads. At cluster scale the same tables
  * are a silver-layer output (`documents_membership`,
  * `documents_signatures`, `documents_dup_pairs`) partitioned like any
  * other table; the mtime in the cache key is the local stand-in for
  * snapshot/version pinning.
  *
  * Tables:
  *  - `membership(doc_id, rep_id)` — every document mapped to the integer
  *    id of its exact-duplicate representative (min doc_id of the
  *    identical-text group). Pair results over reps expand through this.
  *  - `profiles(rep_id, n_copies, hs, sig0..sig{K-1})` — one row per
  *    DISTINCT text: duplicate-group size, the distinct hashed-shingle set
  *    (32-bit ints — the raw text never leaves this builder), and the K
  *    minhash signature components.
  *  - `staged_pairs(rep_a, rep_b, jaccard)` — the verified representative
  *    pairs at the staged operating point ([[Stage.stagedPairs]]).
  *
  * The oracle mirror of `profiles.hs` is [[oShingleSetCtes]]; the
  * signature and band texts live with [[LshBanding]].
  *
  * Build-physics notes (same reasoning as the previous inline preamble):
  * explicit repartition on the text hash so AQE can't serialize the md5
  * work onto one core; shingle md5 as a top-level projection (codegen'd),
  * not a lambda inside `transform` (interpreted); signature minima as
  * hash-agg `min((h*a+b) % p)` expressions rather than per-row
  * `array_min(transform(...))` lambdas.
  *
  * Build cost is NOT hidden: [[buildSeconds]] records the wall-clock of
  * every build in this JVM and Bench emits it in the benchmark JSON, so a
  * reader sees both the steady-state operator times and the one-off stage
  * price.
  */
object DedupStage {

  /** Bump when the stage schema or any signature constant changes. */
  private val Version = 2

  /** `stagedPairs` is the staged pipeline's PUBLISHED output: surviving
    * representative pairs `(rep_a, rep_b, jaccard)` at the
    * [[DedupParams.StagedBands]]×/J≥[[DedupParams.StagedThreshold]]
    * operating point — what dd6 emits (pre-member-expansion), materialized
    * so downstream consumers (duplicate-cluster CC, corpus curation) read
    * a table instead of re-running the band join, exactly as a production
    * pipeline reads the previous stage's silver table. */
  final case class Stage(membership: DataFrame, profiles: DataFrame,
                         stagedPairs: DataFrame)

  /** Wall-clock seconds spent building stages in this JVM (0 when every
    * consumer hit an already-built stage). LongAdder of nanos: concurrent
    * consumers must not lose increments (a bare volatile += is a
    * read-modify-write race that under-reports the bench's build cost). */
  private val buildNanos = new java.util.concurrent.atomic.LongAdder
  def buildSeconds: Double = buildNanos.sum() / 1e9

  /** Get (building if absent) the signature stage for corpus dir `d` —
    * cache mechanics (key → dir, atomic publish) in [[StageCache]]. */
  def apply(s: SparkSession, d: String): Stage = {
    val dir = StageCache.dir("/tmp/graft_dedup_stage",
      s"v$Version|K=${DedupParams.K}|$d|" +
        StageCache.parquetMtime(s"$d/documents.parquet"))
    buildNanos.add(math.round(
      StageCache.getOrBuild(dir)(build(s, d, _)) * 1e9))
    Stage(
      ListedParquet.readPath(s, s"$dir/membership"),
      // fan the single-scratch-file read out to all cores — banding and
      // jaccard expressions downstream are the per-row hot path
      Tables.fanOut(ListedParquet.readPath(s, s"$dir/profiles")),
      Tables.fanOut(ListedParquet.readPath(s, s"$dir/staged_pairs")))
  }

  private def build(s: SparkSession, d: String, dir: String): Unit = {
    val par = s.sparkContext.defaultParallelism
    val withTh = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), md5(col("text")).as("th"))
      .repartition(par, col("th"))
    val reps = withTh
      .groupBy("th")
      .agg(min("doc_id").as("rep_id"), count(lit(1)).as("n_copies"),
           // every text in a th-group is IDENTICAL (th = md5(text)), so
           // min(text) picks "the" text — and unlike min_by (an
           // object-based aggregate that forces SortAggregate), plain min
           // keeps the whole build in hash aggregation
           min("text").as("text"))
      // both output tables derive from reps; cache it for the build's two
      // write jobs so the text-md5 aggregate runs once, release after
      .persist()
    withTh.select("doc_id", "th")
      .join(reps.select("th", "rep_id"), "th")
      .select("doc_id", "rep_id")
      .write.mode("overwrite").parquet(s"$dir/membership")
    // distinct hashed shingles per representative, then ONE aggregate
    // produces both the shingle-set rebuild and all K permutation minima
    val hashed = reps
      .select(col("th"), col("rep_id"), col("n_copies"),
              explode_outer(TextOps.shingleHashes(col("text"))).as("h"))
      .dropDuplicates("th", "h") // exchange-reusing: still hash(th)
    val sigAggs = minhashParams(DedupParams.K).zipWithIndex.map {
      case ((a, b), j) => min((col("h") * a + b) % MinhashP).as(s"sig$j")
    }
    hashed
      .groupBy("th") // same hash(th) clustering — no extra exchange
      .agg(min("rep_id").as("rep_id"),
           (min("n_copies").as("n_copies") +:
            // collect_list drops the null marker row → [] for
            // shingle-less docs; element order is nondeterministic but
            // every consumer (intersect/union sizes, explode) is
            // order-insensitive. min() ignores nulls → null sigs for
            // shingle-less docs, same as the oracle's list_min([]).
            collect_list(col("h")).as("hs") +: sigAggs): _*)
      .drop("th")
      .write.mode("overwrite").parquet(s"$dir/profiles")
    reps.unpersist()
    // Third table: the staged pipeline's verified pair set. Built from the
    // just-written profiles parquet (clean lineage — no signature
    // recompute), at the staged operating point. The band-join cost is
    // paid HERE, once, inside [[buildSeconds]]; dd6 (member expansion) and
    // dd7 (connected components) then read this table like any other
    // upstream output.
    val profs =
      Tables.fanOut(ListedParquet.readPath(s, s"$dir/profiles")).persist()
    LshBanding.repPairs(profs, DedupParams.StagedBands,
        DedupParams.StagedThreshold, "stage_dropped_band_rows")
      .write.mode("overwrite").parquet(s"$dir/staged_pairs")
    profs.unpersist()
  }

  /** Oracle CTEs `toks(doc_id, lst)` and `sh(doc_id, hs)`: every
    * document's distinct hashed-shingle set — `profiles.hs` per document,
    * with no representative collapse. Splice after `WITH`. */
  val oShingleSetCtes: String =
    s"""toks AS (
       |  SELECT doc_id, ${oTokens("text")} AS lst FROM documents),
       |sh AS (
       |  SELECT doc_id,
       |    ${oShingleHashSet("lst")} AS hs
       |  FROM toks)""".stripMargin
}

/** Signature constants shared by the stage builder and its consumers. */
object DedupParams {
  /** minhash permutations */
  val K = 16

  /** Staged-pipeline banding: the 16 signatures re-banded 8×2 — at the
    * staged operator's verify threshold (J ≥ 0.4) 4-row bands would keep
    * only ~10% of qualifying pairs (0.4⁴ per band), while 2-row bands keep
    * 1-(1-0.4²)⁸ ≈ 75% — the recall/candidate-volume knob of
    * Leskovec-Rajaraman-Ullman ch.3, chosen per threshold. These are the
    * parameters of the MATERIALIZED pair table ([[DedupStage]]); dd3 keeps
    * its own inline 4×4/J≥0.5 parameterization of the same core. */
  val StagedBands = 8
  val StagedThreshold = 0.4

  /** LSH bucket-size cap: buckets larger than this are dropped from the
    * candidate join (a bucket this hot is either a degenerate shingle
    * distribution or an un-collapsed dup cluster, and with exact-dup
    * collapse first neither occurs in practice). Natural collision buckets
    * on the fixtures max out at ~15; the cap only engages under
    * pathological skew at scale — and reports what it dropped via
    * [[graft.CapTelemetry]]. */
  val MaxBucket = 1000
}

/** The LSH band-join candidate generator + exact-Jaccard verifier over a
  * signature-profile frame — ONE core with two parameterizations: dd3 runs
  * it inline (4×4 bands, J≥0.5), and [[DedupStage]] runs it at build time
  * (8×2 bands, J≥0.4) to materialize the staged pipeline's pair table.
  */
object LshBanding {

  /** The K signature columns `sig0..sig{K-1}` cut into `bands` bands;
    * a band's key is the md5 of its components joined with ','. */
  private def bandSigs(bands: Int): Seq[(Seq[String], Int)] =
    (0 until DedupParams.K).map(j => s"sig$j")
      .grouped(DedupParams.K / bands).toSeq.zipWithIndex

  /** Band rows `(as, band_idx, band_hash)` of `df`'s `id` column. */
  def bandRows(df: DataFrame, id: String, as: String,
               bands: Int): DataFrame = {
    val bandStructs = bandSigs(bands).map { case (sigs, bIdx) =>
      struct(lit(bIdx).as("band_idx"), md5(concat_ws(",",
        sigs.map(c => col(c).cast("string")): _*)).as("band_hash"))
    }
    df.select(col(id).as(as), explode(array(bandStructs: _*)).as("b"))
      .select(col(as), col("b.band_idx").as("band_idx"),
              col("b.band_hash").as("band_hash"))
  }

  /** Oracle [[bandRows]]: one `SELECT doc_id, band_idx, band_hash` per
    * band over the `sig` CTE, rows cut by `where` when given, joined with
    * UNION ALL. */
  def oBandSelects(bands: Int, where: String = ""): String =
    bandSigs(bands).map { case (sigs, bIdx) =>
      val parts = sigs.map(c => s"CAST($c AS VARCHAR)").mkString(" || ',' || ")
      s"SELECT doc_id, $bIdx AS band_idx, md5($parts) AS band_hash FROM sig" +
        (if (where.isEmpty) "" else s" WHERE $where")
    }.mkString("\n  UNION ALL ")

  /** Oracle CTE `sig(doc_id, hs, sig0..sig{K-1})` over
    * [[DedupStage.oShingleSetCtes]]' `sh` — the K minhash minima of each
    * shingle set; `nonEmpty` keeps only documents with ≥1 shingle. */
  def oSignatureCte(nonEmpty: Boolean): String = {
    val sigs = minhashParams(DedupParams.K).zipWithIndex.map {
      case ((a, b), j) => s"${oMinhashSig("hs", a, b)} AS sig$j"
    }.mkString(",\n    ")
    s"""sig AS (
       |  SELECT doc_id, hs,
       |    $sigs
       |  FROM sh${if (nonEmpty) " WHERE len(hs) > 0" else ""})""".stripMargin
  }

  /** Oracle CTEs `bands` and `cand(doc_a < doc_b)`: the band self-join's
    * distinct candidate pairs over the `sig` CTE. */
  def oCandidateCtes(bands: Int): String =
    s"""bands AS (
       |  ${oBandSelects(bands)}),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       |   AND a.doc_id < b.doc_id)""".stripMargin

  /** Exact Jaccard |a ∩ b| / |a ∪ b| of two distinct hashed-shingle sets,
    * and its 1e-6-grid quantization `floor(J·1e6 + 0.5)` as a long. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")
  def oJaccard(a: String, b: String): String =
    s"""CAST(len(list_intersect($a, $b)) AS DOUBLE) /
       |  CAST(len(list_distinct(list_concat($a, $b))) AS DOUBLE)""".stripMargin
  def jaccardQ(a: Column, b: Column): Column =
    floor(jaccard(a, b) * 1000000.0 + 0.5).cast("long")
  def oJaccardQ(a: String, b: String): String =
    s"CAST(floor(${oJaccard(a, b)}\n  * 1000000.0 + 0.5) AS BIGINT)"

  /** Candidate representative pairs `(rep_a < rep_b)` from the band join
    * alone — no Jaccard verification (the calibration audit dd10 reads the
    * RAW candidate space; [[repPairs]] adds the verify). Caller persists
    * `profiles`. */
  def candidatePairs(profiles: DataFrame, bands: Int,
                     capMetric: String): DataFrame = {
    val allBands = bandRows(profiles, "rep_id", "rep_id", bands).persist()
    val bandsKept = graft.CapTelemetry.capped(allBands,
      Seq("band_idx", "band_hash"), DedupParams.MaxBucket, capMetric)
    val a = bandsKept.select(col("rep_id").as("rep_a"),
      col("band_idx"), col("band_hash"))
    val b = bandsKept.select(col("rep_id").as("rep_b"),
      col("band_idx"), col("band_hash"))
    a.join(b, Seq("band_idx", "band_hash"))
      .filter(col("rep_a") < col("rep_b"))
      .select("rep_a", "rep_b").distinct()
  }

  /** Surviving representative pairs `(rep_a < rep_b, jaccard)` over
    * `profiles(rep_id, hs, sig0..sig{K-1}, ...)`. Caller persists
    * `profiles` (it feeds the band build AND both jaccard sides). */
  def repPairs(profiles: DataFrame, bands: Int, threshold: Double,
               capMetric: String): DataFrame = {
    val cand = candidatePairs(profiles, bands, capMetric)
    val x = profiles.select(col("rep_id").as("rep_a"), col("hs").as("hs_a"))
    val y = profiles.select(col("rep_id").as("rep_b"), col("hs").as("hs_b"))
    cand.join(x, "rep_a").join(y, "rep_b")
      .select(col("rep_a"), col("rep_b"),
        jaccard(col("hs_a"), col("hs_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }
}

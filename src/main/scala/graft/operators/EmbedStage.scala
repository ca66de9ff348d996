package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared arithmetic over quantized embedding vectors (array<long> on the
  * 1e-6 grid) — the parity-critical expressions every sim consumer and the
  * stage builder must share EXACTLY (same IEEE tree both engines, see the
  * quantization doctrine in `queries/SimilarityQueries.scala`).
  */
object VectorOps {
  /** Embedding dimensionality of the fixture corpus (TESTDATA.md). */
  val Dim = 64

  /** Quantize a float embedding to the 1e-6 integer grid: identical IEEE
    * double ops on both engines, then exact long arithmetic everywhere
    * downstream. */
  def quant(c: Column): Column =
    transform(c, x => floor(x.cast("double") * 1000000.0 + 0.5).cast("long"))

  /** DuckDB text of [[quant]] over the raw `embedding` column: the
    * quantized embedding as list<BIGINT>. */
  val oQuant =
    "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT))"

  /** Exact integer inner product of two quantized vectors — the NATIVE
    * codegen'd expression ([[graft.functions.DotLong]], injected by
    * GraftExtensions in every [[graft.GraftSession]]): one primitive
    * long loop inside whole-stage codegen, no intermediate array.
    *
    * Measured history of this hot path (sim1/sim5 warmed, sf0.1):
    *  - `aggregate(zip_with)` lambda — the interpreted baseline; per
    *    pair it allocates the 64-element product array and folds it.
    *  - 64-term unrolled element_at chain — 1.6× SLOWER than the lambda
    *    (~250 Catalyst nodes blow the codegen splitting thresholds,
    *    every GetArrayItem re-checks bounds). Dead end.
    *  - [[graft.functions.DotLong]] — WITHIN HOST NOISE of the lambda
    *    at this Dim=64 / 6k-vector fixture (interleaved A/B: the
    *    apparent ±20% swings track host drift, not the variant). Chosen
    *    as default anyway: it removes the per-pair intermediate
    *    allocation and the per-element lambda interpretation — the
    *    costs that grow with Dim and corpus size — and keeps the dot
    *    inside whole-stage codegen.
    * [[dotLRef]] keeps the lambda form as the parity reference
    * (`DotLongSpec` pins equality on every array shape). */
  def dotL(a: Column, b: Column): Column = call_function("dot_long", a, b)

  /** The composed higher-order form of [[dotL]] — parity/testing
    * reference only. */
  def dotLRef(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)

  /** Exact squared norm (long): 64 axes × (~3e5)² ≈ 6e12 « 2^53, so the
    * eventual cast to double is exact on both engines. */
  def normSq(a: Column): Column = dotL(a, a)

  /** DuckDB text of [[dotL]] over two list expressions. */
  def oDotL(a: String, b: String): String =
    s"list_sum(list_transform(generate_series(1, len($a)), i -> $a[i] * $b[i]))"

  /** DuckDB text of [[normSq]] over a list expression. */
  def oNormSq(a: String): String = s"list_sum(list_transform($a, v -> v * v))"

  /** Exact cosine of a query side and a candidate side, each given as
    * (quantized vector, exact squared norm): the exact long dot, cast
    * once, over the product of the two norm square roots. Every input
    * double is an exact integer and each op is correctly rounded, so
    * [[oCosine]] gives the same double on DuckDB. */
  def cosine(q: (Column, Column), c: (Column, Column)): Column =
    dotL(q._1, c._1).cast("double") /
      (sqrt(q._2.cast("double")) * sqrt(c._2.cast("double")))

  /** DuckDB text of [[cosine]]; sides are (list, squared-norm) texts. */
  def oCosine(q: (String, String), c: (String, String)): String =
    s"CAST(${oDotL(q._1, c._1)} AS DOUBLE) /\n" +
      s"  (sqrt(CAST(${q._2} AS DOUBLE)) * sqrt(CAST(${c._2} AS DOUBLE)))"

  /** An oracle side whose squared norm is computed from its list. */
  def oSide(qv: String): (String, String) = (qv, oNormSq(qv))
}

/** The MATERIALIZED vector-index stage shared by the similarity family
  * (sim1–sim17) — reference semantics per `SURVEY.md` §2's similarity
  * rows; the staging itself is the standard large-corpus design (index
  * once, query many), not a reference feature.
  *
  * Motivation: the similarity rows all start from the same per-vector
  * substrate — quantize the embedding, square the norm, inner-product
  * the [[IvfIndex]] centroids, argmin-encode the [[PqIndex]] codes,
  * sign-test the [[SignLsh]] hyperplanes. Computed inline, each row
  * pays that cost again on every run; at 100 TB that is one full corpus
  * scan per row with 64-dim arithmetic per vector. A real vector pipeline
  * computes the index ONCE per corpus snapshot and materializes it —
  * exactly what FAISS/Milvus-style systems persist — and the search
  * operators read it. The index rows are small (the quantized vector plus
  * a few ints per vector) and immutable for an immutable corpus snapshot.
  *
  * Tables:
  *  - `vectors(vec_id, qv, nsq, dl, cid, codes)` — the quantized vector,
  *    its exact squared norm, the centroid inner products (`dl`: the
  *    full cell-dot array in the flat regime, the ⌈√cells⌉ PARENT dots
  *    in the beyond-threshold hierarchical regime — kept so query-side
  *    probe ranking reads a stored column instead of recomputing; probe
  *    through [[probeCells]], which expands correctly in both regimes),
  *    the assigned IVF list (`cid` — at cluster scale the table is
  *    BUCKETED by this column and a probe touches P/cells of the data),
  *    and the M PQ codes.
  *  - `buckets(vec_id, table_id, bucket_pair, bucket_query)` — the
  *    [[SignLsh]] bucket ids per hash table at both operating widths
  *    (8-bit pairwise path / 12-bit multiprobe query path). Bucket-size
  *    caps stay QUERY-side ([[SignLsh.capBuckets]]): the cap is a skew
  *    policy of the consumer, not of the index.
  *
  * The DuckDB oracles keep replaying every derivation from the raw
  * embeddings — the stage must (and does: `EmbedStageSpec`) match the
  * inline expressions bit-for-bit, so hash verification still covers the
  * whole derivation, not just the post-index query.
  *
  * Build cost is NOT hidden: [[buildSeconds]] records the wall-clock of
  * every build in this JVM and Bench emits it as
  * `embed_stage_build_sec` in the benchmark JSON.
  */
object EmbedStage {

  /** Bump when the stage schema or any index constant changes.
    * v2: round 11 — splitmix centroid family (the LCG's ~128-direction
    * argmax degeneracy), two-level regime wiring.
    * v3: round 12 — child jitter moved to the XXH64 family so the probe
    * side can evaluate child dots in-expression (no child-matrix plan
    * literal) with exact JVM/Column parity. */
  private val Version = 3

  /** LSH operating points (see `queries/SimilarityQueries.scala` for the
    * recall arithmetic): 4 OR-amplified tables; 8-bit buckets on the
    * pairwise path (sim3), 12-bit + query-side multiprobe on the search
    * path (sim2). */
  val LshTables = 4
  val BitsPair = 8
  val BitsQuery = 12

  final case class Stage(vectors: DataFrame, buckets: DataFrame)

  /** Wall-clock seconds spent building stages in this JVM (0 when every
    * consumer hit an already-built stage). LongAdder of nanos: concurrent
    * consumers must not lose increments (a bare volatile += is a
    * read-modify-write race that under-reports the bench's build cost). */
  private val buildNanos = new java.util.concurrent.atomic.LongAdder
  def buildSeconds: Double = buildNanos.sum() / 1e9

  /** Memoized per (dir, mtime): the IVF cell count for corpus `d` —
    * [[IvfIndex.cellsFor]] of the corpus row count (a metadata-only
    * parquet count). Public so consumers that materialize the centroid
    * matrix as a plan literal (sim9's drift audit) size it to the stage's
    * actual cid domain instead of the fixture floor. */
  def cells(s: SparkSession, d: String): Int =
    cellsMemo.computeIfAbsent(
      s"$d|${StageCache.parquetMtime(s"$d/embeddings.parquet")}",
      _ => IvfIndex.cellsFor(
        ListedParquet.readPath(s, s"$d/embeddings.parquet").count()))

  private val cellsMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]

  /** Regime-aware probe expansion for corpus `d` (see
    * [[IvfIndex.probeCells]]): explodes each query row into its top-P
    * probe cells, reading the stage's `dl` (all-cell dots when flat,
    * parent dots when hierarchical) and — hier only — `qv`. The sim
    * consumers go through this instead of ranking `dl` inline so a
    * beyond-threshold stage is probed with the matching two-level plan. */
  def probeCells(s: SparkSession, d: String, q: DataFrame, qid: String,
                 p: Int = IvfIndex.P): DataFrame =
    IvfIndex.probeCells(q, qid, VectorOps.Dim, cells(s, d), p)

  /** Get (building if absent) the vector-index stage for corpus dir `d`. */
  def apply(s: SparkSession, d: String): Stage = {
    import VectorOps.Dim
    val nc = cells(s, d)
    // the regime is part of the cache identity: a forceHier run must not
    // reuse (or poison) the flat stage for the same corpus
    val dir = StageCache.dir("/tmp/graft_embed_stage",
      s"v$Version|D=$Dim|T=$LshTables|b=$BitsPair,$BitsQuery" +
        s"|C=$nc|H=${IvfIndex.isHier(nc)}|M=${PqIndex.M}|$d|" +
        StageCache.parquetMtime(s"$d/embeddings.parquet"))
    buildNanos.add(math.round(
      StageCache.getOrBuild(dir)(build(s, d, _, nc)) * 1e9))
    // fanOut is a no-op when the stage was written with ≥ par partitions
    // (the usual case — the build fans out); it only fires when a stage
    // built by a smaller session is read by a larger one.
    Stage(
      Tables.fanOut(ListedParquet.readPath(s, s"$dir/vectors")),
      Tables.fanOut(ListedParquet.readPath(s, s"$dir/buckets")))
  }

  private def build(s: SparkSession, d: String, dir: String,
                    nc: Int): Unit = {
    import VectorOps._
    // fanOut: the per-row index math (centroid dots, M argmin encodes,
    // tables×bits sign tests) is the hot path — a single-file fixture
    // must not serialize it onto one core.
    val emb = Tables.fanOut(Tables.embeddings(s, d))
      .select(col("vec_id"), quant(col("embedding")).as("qv"))
    // Regime split (IvfIndex.isHier — one decision point shared with the
    // query-side probe expansion):
    //  - FLAT (≤ HierarchyThreshold cells — every fixture and committed
    //    probe replica): dl = the full cell-dot array (O(cells)/row),
    //    cid = argmax(dl). O(n·cells·dim) build — quadratic in n once
    //    cells ∝ n, which is exactly why the boundary exists.
    //  - HIER (beyond it): cid = IvfIndex.assignHier (two-level,
    //    O(√cells·dim)/vector — the build term drops to n^1.5 with tiny
    //    constants), dl = the G=⌈√cells⌉ PARENT dots only (O(√cells)/row
    //    storage instead of the flat array that would dominate the table).
    //    Queries probe through IvfIndex.probeCells, which expands parent
    //    ranks into exact child cells; recall vs flat on the same corpus
    //    is pinned by IvfSpec (the measured scale numbers are in
    //    PROBE_r1[12]_hier*.json).
    val indexed =
      if (!IvfIndex.isHier(nc))
        emb.select(col("vec_id"), col("qv"), normSq(col("qv")).as("nsq"),
            IvfIndex.dots(col("qv"), Dim, nc).as("dl"),
            PqIndex.encode(PqIndex.dls(col("qv"), Dim)).as("codes"))
          .select(col("vec_id"), col("qv"), col("nsq"), col("dl"),
            IvfIndex.assign(col("dl")).as("cid"), col("codes"))
      else
        emb.select(col("vec_id"), col("qv"), normSq(col("qv")).as("nsq"),
          IvfIndex.parentDots(col("qv"), Dim, nc).as("dl"),
          IvfIndex.assignHier(col("qv"), Dim, nc).as("cid"),
          PqIndex.encode(PqIndex.dls(col("qv"), Dim)).as("codes"))
    indexed
      .select(col("vec_id"), col("qv"), col("nsq"), col("dl"), col("cid"),
        col("codes"))
      .write.mode("overwrite").parquet(s"$dir/vectors")
    val ps8 = SignLsh.planes(LshTables, BitsPair, Dim)
    val ps12 = SignLsh.planes(LshTables, BitsQuery, Dim)
    val structs = (0 until LshTables).map { t =>
      struct(lit(t).as("table_id"),
        SignLsh.bucket(col("qv"), ps8(t)).as("bucket_pair"),
        SignLsh.bucket(col("qv"), ps12(t)).as("bucket_query"))
    }
    // clean lineage: bucket bits derive from the just-written vectors
    // parquet, not a recompute of the quantization
    ListedParquet.readPath(s, s"$dir/vectors")
      .select(col("vec_id"), explode(array(structs: _*)).as("b"))
      .select(col("vec_id"), col("b.table_id").as("table_id"),
        col("b.bucket_pair").as("bucket_pair"),
        col("b.bucket_query").as("bucket_query"))
      .write.mode("overwrite").parquet(s"$dir/buckets")
  }
}

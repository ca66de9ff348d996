package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over the embedding column.
  *
  * Cross-engine float parity: float dot products accumulate differently per
  * engine, so embeddings are quantized to a 1e-6 integer grid first
  * (`floor(x*1e6 + 0.5)` — identical IEEE ops both sides) and all inner
  * products/norms are EXACT integer arithmetic (64 dims × (3e5)² ≈ 6e12,
  * far under 2^53). Cosine then derives through one identical expression
  * tree. Semantically this is cosine similarity at 1e-6 precision.
  *
  * Scale design: sim1 is the brute-force baseline — broadcast the (small)
  * query set against the full corpus, per-partition heap via
  * row_number+filter (TakeOrdered shape), no all-pairs shuffle. sim2/sim3
  * are the scale path: multi-table sign-LSH (graft.operators.SignLsh,
  * 4 independent tables OR-amplified, bucket-size caps) restricts
  * candidates to same-bucket collisions before exact scoring — the
  * IVF-style partition-pruned search. Recall mechanics are spec-tested on
  * planted near-duplicates (SignLshSpec).
  *
  * All seventeen rows read the MATERIALIZED vector-index stage
  * ([[graft.operators.EmbedStage]]): quantized vectors, norms, IVF
  * assignments, PQ codes, and LSH buckets are computed once per corpus
  * snapshot, the way a real vector pipeline maintains its index tables —
  * each query here is the SEARCH side only. The DuckDB oracles still
  * replay the full derivation from raw embeddings, so hash verification
  * covers index construction too.
  *
  * Each scoring decision is written once, as a DataFrame/oracle-SQL pair,
  * and each row keeps only its candidate source, its cut and its
  * non-vacuity checks:
  *  - the exact cosine: `VectorOps.cosine`/`oCosine` over the query side
  *    and candidate side projections ([[querySide]], [[candSide]]);
  *  - the per-query top-k cut: [[topK]]/[[oTopK]];
  *  - the candidate sources: the brute-force scan
  *    ([[exactScan]]/[[oExactScan]]) and the IVF probe scan
  *    ([[ivfScan]]/[[oIvfScan]]); the index oracles live with their
  *    indexes (`IvfIndex.oracleAssignCtes`/`oracleProbeCells`,
  *    `SignLsh.oracleTables`);
  *  - one Lloyd step ([[lloydStep]]/[[oLloydStep]]; sim11, sim12) and one
  *    recall audit ([[recall]]/[[oRecall]]; sim8, sim16).
  */
object SimilarityQueries {
  import graft.operators.{EmbedStage, IvfIndex, Mmr, PqIndex, SemanticDecon,
    SignLsh, TextOps, VectorOps}
  import VectorOps.{dotL, oCosine, oQuant, oSide}

  private val NQ = 5   // query vectors: vec_id < NQ
  private val TopK = 10
  private val Dim = VectorOps.Dim  // embedding dimensionality (TESTDATA.md)
  private val LshTables = EmbedStage.LshTables
  private val LshBits = EmbedStage.BitsPair // sim3 bits/table ≈
                              // log2(n/bucket) at fixture
                              // size; scale toward 16-20 at 1e9 vectors
  /** sim2 bits/table: multiprobe (1-bit flips on the query side) buys the
    * recall that longer codes would otherwise cost, so the query path runs
    * finer buckets than the pairwise path — 2^12 buckets ≈ 2× the fixture
    * corpus, the regime a 1e9-vector deployment sizes for. Per-table hit
    * prob at cosine≈0.999 (p≈0.99/bit): single-probe 12-bit ≈ p^12 ≈ 0.89;
    * +12 one-flip probes ≈ p^12 + 12·p^11·(1-p) ≈ 0.99, OR'd over 4
    * tables ≈ 1-1e-8. */
  private val Sim2Bits = EmbedStage.BitsQuery
  /** Bucket-size cap for the candidate joins; a bucket of m rows costs m²
    * pairs. ~n/2^bits expected at fixture scale, so this never fires
    * locally; at scale it is the skew guard (SignLsh.overflow reports what
    * a cap drops). */
  private val MaxLshBucket = 100000L
  /** sim5 semantic-dup cosine threshold (the near-dup operating point the
    * corpus is planted for — same τ as sim3's pair threshold). */
  private val SemTau = 0.4
  /** sim6 ADC survivor pool reranked exactly (per query). */
  private val PqPool = 50
  /** sim10 MMR: pool size per query (bounded by the retrieval stage),
    * picks per query, and the relevance/diversity trade-off. λ = 0.5
    * EXACTLY so `1−λ` is bit-identical to `λ` on both engines (any other
    * λ makes `1.0−λ` a different rounding than the literal). */
  private val MmrPool = 20
  private val MmrK = 5
  private val MmrLambda = 0.5

  /** The quantized corpus (vec_id, `extra`, qv): every oracle's first CTE. */
  private def oQv(extra: String*): String =
    s"qv AS (\n  SELECT ${("vec_id" +: extra).mkString(", ")}, $oQuant AS qv FROM embeddings)"

  /** Query side of a scored pair: `keep`, then the stage's (qv, nsq) as
    * (qv_q, nsq_q). */
  private def querySide(v: DataFrame, keep: Column*): DataFrame =
    v.select(keep ++ Seq(col("qv").as("qv_q"), col("nsq").as("nsq_q")): _*)

  /** Candidate side of a scored pair: `keep`, then (qv_c, nsq_c). */
  private def candSide(v: DataFrame, keep: Column*): DataFrame =
    v.select(keep ++ Seq(col("qv").as("qv_c"), col("nsq").as("nsq_c")): _*)

  /** The exact cosine of a joined query-side and candidate-side row. */
  private val cosine = VectorOps.cosine((col("qv_q"), col("nsq_q")),
    (col("qv_c"), col("nsq_c")))

  /** Per-query top-k: the `k` highest-`score` rows of each `keys` group,
    * score ties to the lowest `cand_id`, with their rank in `rn`. */
  private[graft] def topK(scored: DataFrame, score: String, k: Int,
                          keys: Seq[String] = Seq("query_id")): DataFrame =
    scored.withColumn("rn", row_number().over(
        Window.partitionBy(keys.map(col): _*)
          .orderBy(col(score).desc, col("cand_id"))))
      .filter(col("rn") <= k)

  /** Oracle text of [[topK]] per query_id over relation `scored`,
    * projecting `cols`. */
  private[graft] def oTopK(scored: String, score: String, k: Int,
                           cols: String): String =
    s"""SELECT $cols FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY $score DESC, cand_id) AS rn
       |  FROM $scored) WHERE rn <= $k""".stripMargin

  /** Brute-force candidate source: the first NQ vectors of `v` (vec_id,
    * qv, nsq) broadcast against all of it, every pair scored —
    * (query_id, cand_id, cosine). */
  private def exactScan(v: DataFrame): DataFrame =
    broadcast(querySide(v.filter(col("vec_id") < NQ),
        col("vec_id").as("query_id")))
      .crossJoin(candSide(v, col("vec_id").as("cand_id")))
      .filter(col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"), cosine.as("cosine"))

  /** Oracle text of [[exactScan]] over the `list` column of relation
    * `src`. */
  private def oExactScan(src: String = "qv", list: String = "qv"): String =
    s"""SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
       |    ${oCosine(oSide(s"q.$list"), oSide(s"c.$list"))} AS cosine
       |  FROM $src q JOIN $src c ON c.vec_id <> q.vec_id
       |  WHERE q.vec_id < $NQ""".stripMargin

  /** IVF candidate source: the first NQ vectors of stage frame `v` expand
    * to their probe cells (regime-aware `EmbedStage.probeCells`, a
    * broadcast of NQ×P rows), and every vector of a probed cell is scored
    * against them — (query_id, cand_id, `keep`, cosine). `keep` columns
    * also join the probe to the cell (sim15's label pre-filter). */
  private def ivfScan(s: SparkSession, d: String,
                      v: DataFrame, keep: String*): DataFrame = {
    val corpus = candSide(v,
      (col("vec_id").as("cand_id") +: col("cid") +: keep.map(col)): _*)
    val probes = EmbedStage.probeCells(s, d,
        v.filter(col("vec_id") < NQ).select((col("vec_id").as("query_id")
          +: keep.map(col)) ++ Seq(col("qv"), col("nsq").as("nsq_q"),
          col("dl")): _*),
        "query_id")
      .withColumnRenamed("qv", "qv_q")
    corpus.join(broadcast(probes), "cid" +: keep)
      .filter(col("cand_id") =!= col("query_id"))
      .select((Seq(col("query_id"), col("cand_id")) ++ keep.map(col)) :+
        cosine.as("cosine"): _*)
  }

  /** Oracle text of [[ivfScan]] over the `d`/`asg` CTEs of
    * `IvfIndex.oracleAssignCtes` (which must carry `keep`). */
  private def oIvfScan(keep: String*): String = {
    val qd = s"(SELECT ${("vec_id AS query_id" +: keep).mkString(", ")}, " +
      s"qv AS qv_q, dl FROM d WHERE vec_id < $NQ)"
    val probes = IvfIndex.oracleProbeCells(qd, "query_id",
      ("query_id" +: keep) :+ "qv_q")
    s"""SELECT ${(Seq("p.query_id", "c.vec_id AS cand_id") ++
         keep.map("c." + _)).mkString(", ")},
       |    ${oCosine(oSide("p.qv_q"), oSide("c.qv"))} AS cosine
       |  FROM ($probes) p
       |  JOIN asg c ON p.cid = c.cid${keep.map(k => s" AND p.$k = c.$k").mkString}
       |    AND c.vec_id <> p.query_id""".stripMargin
  }

  /** One Lloyd step over `asg` (vec_id, qv, cid): each cell's per-axis
    * mean, rounded to the 1e-6 grid (`floor(mean + 0.5)`), becomes its
    * refined centroid, and every vector moves to the nearest refined
    * centroid by exact long L2, ties to the smallest cid — (vec_id, qv,
    * cid_prev, cid, d).
    *
    * The mean pass is a posexplode → (cid, dim) hash-agg (map-side
    * partial, the shuffle carries ≤ cells×Dim rows); the refined
    * centroids collapse to a ONE-ROW broadcast, cid-sorted, each struct
    * carrying its squared norm `cc` (a trailing field — array_sort still
    * orders by the unique leading cid1), and reassignment is a per-row
    * fold whose strict-less keeps the smallest cid on ties: distance
    * xx − 2·dot_long(qv, cq) + cc, one native long loop per centroid —
    * argmin without exploding the corpus ×cells or windowing by vec_id.
    * Empty cells contribute no centroid (drop-empty Lloyd). */
  private def lloydStep(asg: DataFrame): DataFrame = {
    val cent = asg
      .select(col("cid"), posexplode(col("qv")).as(Seq("pos", "x")))
      .groupBy("cid", "pos")
      .agg(sum("x").as("sx"), count(lit(1)).as("n"))
      .groupBy(col("cid").as("cid1"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"),
          floor(col("sx").cast("double") / col("n") + 0.5)
            .cast("long").as("cq")))),
        e => e.getField("cq")).as("cq"))
    val cents = cent
      .agg(array_sort(collect_list(struct(col("cid1"), col("cq"),
        dotL(col("cq"), col("cq")).as("cc"))))
        .as("cents"))
    val best = aggregate(col("cents"),
      struct(lit(Long.MaxValue).as("d"), lit(-1).as("cid1")),
      (acc, c) => {
        val dd = col("__xx") + c.getField("cc") -
          lit(2L) * dotL(col("qv"), c.getField("cq"))
        when(dd < acc.getField("d"),
          struct(dd.as("d"), c.getField("cid1").as("cid1")))
          .otherwise(acc)
      })
    asg.crossJoin(broadcast(cents))
      .withColumn("__xx", dotL(col("qv"), col("qv")))
      .select(col("vec_id"), col("qv"), col("cid").as("cid_prev"),
        best.as("best"))
      .select(col("vec_id"), col("qv"), col("cid_prev"),
        col("best.cid1").as("cid"), col("best.d").as("d"))
  }

  /** Oracle text of [[lloydStep]]: CTEs g`i`, cent`i`, dist`i` and
    * asg`i` (vec_id, qv, cid, cid_prev, d) over relation `prev` (vec_id,
    * qv, cid); the nearest centroid is a row_number over (d, cid). */
  private def oLloydStep(i: Int, prev: String): String =
    s"""g$i AS (
       |  SELECT cid, i, CAST(sum(qv[i]) AS BIGINT) AS sx,
       |    count(*) AS n
       |  FROM $prev CROSS JOIN generate_series(1, $Dim) t(i)
       |  GROUP BY cid, i),
       |cent$i AS (
       |  SELECT cid AS cidc,
       |    list(CAST(floor(CAST(sx AS DOUBLE) / n + 0.5) AS BIGINT)
       |      ORDER BY i) AS cq
       |  FROM g$i GROUP BY cid),
       |dist$i AS (
       |  SELECT a.vec_id, a.qv, a.cid AS cid_prev, c.cidc AS cid,
       |    CAST(list_sum(list_transform(generate_series(1, $Dim),
       |      i -> (a.qv[i] - c.cq[i]) * (a.qv[i] - c.cq[i])))
       |      AS BIGINT) AS d
       |  FROM $prev a CROSS JOIN cent$i c),
       |asg$i AS (
       |  SELECT vec_id, qv, cid, cid_prev, d FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY d, cid) AS rn
       |    FROM dist$i) WHERE rn = 1)""".stripMargin

  /** Per-query recall of the `approx` ranking against the `exact` one,
    * each one row per (query_id, cand_id): n_exact, n_hit, recall. */
  private def recall(exact: DataFrame, approx: DataFrame): DataFrame = {
    val ap = approx.select(col("query_id").as("a_qid"),
      col("cand_id").as("a_cand"))
    exact.join(ap, col("query_id") === col("a_qid") &&
        col("cand_id") === col("a_cand"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_exact"),
        count(col("a_cand")).as("n_hit"),
        (count(col("a_cand")).cast("double") /
          count(lit(1)).cast("double")).as("recall"))
  }

  /** Oracle text of [[recall]] over the CTEs `exact` and `approx`. */
  private val oRecall =
    """SELECT e.query_id, count(*) AS n_exact,
      |  CAST(count(a.cand_id) AS BIGINT) AS n_hit,
      |  CAST(count(a.cand_id) AS DOUBLE) / CAST(count(*) AS DOUBLE)
      |    AS recall
      |FROM exact e LEFT JOIN approx a
      |  ON e.query_id = a.query_id AND e.cand_id = a.cand_id
      |GROUP BY 1""".stripMargin

  val all: Seq[QueryDef] = Seq(

    // SIM1: brute-force cosine top-k for a query subset.
    QueryDef(
      "sim1_cosine_topk",
      Some(s"""WITH ${oQv()},
              |scored AS (
              |  ${oExactScan()})
              |${oTopK("scored", "cosine", TopK, "query_id, cand_id, cosine")}""".stripMargin),
      (s, d) => {
        val emb = EmbedStage(s, d).vectors
          .select(col("vec_id"), col("qv"), col("nsq"))
        topK(exactScan(emb), "cosine", TopK)
          .select("query_id", "cand_id", "cosine")
      }),

    // SIM2: multi-table sign-LSH ANN with query-side MULTIPROBE —
    // candidates are vectors whose bucket matches the query's bucket OR
    // any 1-bit flip of it, in ANY of 4 independent hash tables
    // (OR-amplification, graft.operators.SignLsh: difference-hyperplane
    // sign bits with plan-time constant indices so the oracle can replay
    // them), then exact scoring on the candidate set only. Probing lets
    // the table run 12-bit codes (finer buckets → fewer corpus-side
    // collisions) at the recall 8-bit single-probe had; the probe fan-out
    // rides the tiny query side, never the corpus.
    QueryDef(
      "sim2_ann_lsh",
      Some(s"""WITH ${oQv()},
              |bk AS (
              |  ${SignLsh.oracleTables("qv", LshTables, Sim2Bits, Dim)}),
              |qp AS (
              |  SELECT vec_id, t,
              |    unnest(${SignLsh.oracleProbeBuckets("bucket", Sim2Bits)})
              |      AS bucket
              |  FROM bk WHERE vec_id < $NQ),
              |cand AS (
              |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS cand_id
              |  FROM qp q JOIN bk c
              |    ON q.t = c.t AND q.bucket = c.bucket AND c.vec_id <> q.vec_id),
              |scored AS (
              |  SELECT cd.query_id, cd.cand_id,
              |    ${oCosine(oSide("q.qv"), oSide("c.qv"))} AS cosine
              |  FROM cand cd
              |  JOIN qv q ON cd.query_id = q.vec_id
              |  JOIN qv c ON cd.cand_id = c.vec_id)
              |${oTopK("scored", "cosine", TopK, "query_id, cand_id, cosine")}""".stripMargin),
      (s, d) => {
        // the quantized frame and the bucket bits are STAGE reads
        // (EmbedStage — index once, query many); what stays on the query
        // path is the skew cap (consumer policy), the multiprobe
        // expansion, and the scoring itself.
        val st = EmbedStage(s, d)
        val emb = st.vectors.select(col("vec_id"), col("qv"), col("nsq"))
        val bk = SignLsh.capBuckets(
          st.buckets.select(col("vec_id"), col("table_id"),
            col("bucket_query").as("bucket")),
          MaxLshBucket, Some("sim2_dropped_bucket_rows"))
        val qb = bk.filter(col("vec_id") < NQ)
          .select(col("vec_id").as("query_id"), col("table_id"),
            explode(SignLsh.probeBuckets(col("bucket"), Sim2Bits))
              .as("bucket"))
        val cb = bk.select(col("vec_id").as("cand_id"), col("table_id"),
          col("bucket"))
        // probe buckets are NQ×tables×(bits+1) rows — broadcast; the
        // distinct collapses multi-probe/multi-table collisions before
        // the (expensive) scoring.
        val cand = cb.join(broadcast(qb), Seq("table_id", "bucket"))
          .filter(col("cand_id") =!= col("query_id"))
          .select("query_id", "cand_id").distinct()
        // scoring join direction matters at 100 TB: the corpus is the
        // STREAM side scanned once, the (candidate × query-vector) frame —
        // small by LSH construction — broadcasts. Explicit, so neither AQE
        // estimation stages nor a corpus shuffle appear.
        val candq = cand.join(
          broadcast(querySide(emb, col("vec_id").as("query_id"))),
          "query_id")
        val scored = candSide(emb, col("vec_id").as("cand_id"))
          .join(broadcast(candq), "cand_id")
          .select(col("query_id"), col("cand_id"), cosine.as("cosine"))
        topK(scored, "cosine", TopK).select("query_id", "cand_id", "cosine")
      }),

    // SIM3: pairwise high-similarity detection (embedding near-dup dedup)
    // over the same 4-table OR-amplified sign-LSH candidates as sim2 —
    // multi-table collision replaces the old single 8-bit table whose
    // within-bucket all-pairs join was n²/256 with unquantified recall
    // loss. (Threshold 0.4 because the synthetic corpus has no planted
    // embedding near-dups — max pairwise cosine is ~0.6 — and an
    // always-empty result would verify nothing.)
    QueryDef(
      "sim3_embedding_neardup",
      Some {
        val cos = oCosine(oSide("q.qv"), oSide("c.qv"))
        s"""WITH ${oQv()},
           |bk AS (
           |  ${SignLsh.oracleTables("qv", LshTables, LshBits, Dim)}),
           |cand AS (
           |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
           |  FROM bk a JOIN bk b
           |    ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
           |SELECT cd.id_a, cd.id_b,
           |  $cos AS cosine
           |FROM cand cd
           |JOIN qv q ON cd.id_a = q.vec_id
           |JOIN qv c ON cd.id_b = c.vec_id
           |WHERE $cos >= 0.4""".stripMargin
      },
      (s, d) => {
        val st = EmbedStage(s, d)
        val cand = SignLsh.pairsFromBuckets(
          SignLsh.capBuckets(
            st.buckets.select(col("vec_id"), col("table_id"),
              col("bucket_pair").as("bucket")),
            MaxLshBucket, Some("sim3_dropped_bucket_rows")),
          "vec_id")
        cand.join(querySide(st.vectors, col("vec_id").as("id_a")), "id_a")
          .join(candSide(st.vectors, col("vec_id").as("id_b")), "id_b")
          .select(col("id_a"), col("id_b"), cosine.as("cosine"))
          .filter(col("cosine") >= 0.4)
      }),

    // SIM4: IVF ANN — the second scale path next to LSH (sim2). Every
    // corpus vector sits in exactly ONE inverted list (argmax-centroid
    // assignment, graft.operators.IvfIndex); a query exact-scores only
    // the P=4 lists its own best centroids name. At 100 TB the lists are
    // the partition layout (bucket the table by cid); locally the join is
    // one broadcast of NQ×P probe rows. No distinct needed anywhere —
    // assignment is a partition, so a candidate pair arises exactly once.
    QueryDef(
      "sim4_ivf_topk",
      Some(s"""WITH ${oQv()},
              |${IvfIndex.oracleAssignCtes("qv", Seq("vec_id", "qv"), Dim)},
              |scored AS (
              |  ${oIvfScan()})
              |${oTopK("scored", "cosine", TopK, "query_id, cand_id, cosine")}""".stripMargin),
      (s, d) => {
        // corpus assignment (cid) and the centroid-dot array (dl) are
        // stage columns — the query path is probe expansion (regime-aware:
        // flat dl rank at fixture scale, two-level parent→child expansion
        // beyond the cell threshold) + the broadcast probe join + exact
        // scoring of the probed lists only
        topK(ivfScan(s, d, EmbedStage(s, d).vectors), "cosine", TopK)
          .select("query_id", "cand_id", "cosine")
      }),

    // SIM5: semantic deduplication (the SemDeDup recipe, Abbas et al.
    // 2023): cluster the embedding space with the coarse quantizer, then
    // dedup ONLY within clusters — a vector is dropped when a lower-id
    // vector in ITS OWN cluster sits above the cosine threshold
    // (deterministic keep-first greedy; no transitive closure needed,
    // unlike the text-side dd7, because the decision is pairwise against
    // already-kept ids). Emits the audit row: cluster id, how many kept
    // neighbors crowded this vector out, the closest one's cosine, keep.
    //
    // Scale shape: the cluster assignment PARTITIONS the corpus (argmax
    // over plan-constant centroids — same quantizer as sim4, so at
    // 100 TB the corpus is already bucketed by `cid` and the pair join
    // is shuffle-free); within-cluster pairing costs O(n · cluster_size),
    // and C grows with the corpus to hold cluster_size ~constant — the
    // quadratic term never sees the whole corpus. Exact integer dots on
    // the 1e-6 grid keep the threshold comparison bit-identical across
    // engines; the squared norms are per-vector stage columns, so the
    // pair join evaluates only the dot.
    QueryDef(
      "sim5_semdedup",
      Some {
        val cos = oCosine(("a.qv", "a.nsq"), ("b.qv", "b.nsq"))
        s"""WITH ${oQv()},
           |n AS (
           |  SELECT vec_id, qv, ${VectorOps.oNormSq("qv")} AS nsq FROM qv),
           |${IvfIndex.oracleAssignCtes("n", Seq("vec_id", "qv", "nsq"), Dim)},
           |near AS (
           |  SELECT a.vec_id,
           |    CAST(count(*) AS BIGINT) AS n_near,
           |    max($cos) AS max_cos
           |  FROM asg a JOIN asg b
           |    ON a.cid = b.cid AND b.vec_id < a.vec_id
           |  WHERE $cos >= $SemTau
           |  GROUP BY 1)
           |SELECT s.vec_id, s.cid,
           |  coalesce(n.n_near, 0) AS n_near, n.max_cos,
           |  n.vec_id IS NULL AS keep
           |FROM asg s LEFT JOIN near n ON s.vec_id = n.vec_id""".stripMargin
      },
      (s, d) => {
        val asg = EmbedStage(s, d).vectors
          .select(col("vec_id"), col("qv"), col("nsq"), col("cid"))
        val near = querySide(asg, col("vec_id"), col("cid"))
          .join(candSide(asg, col("vec_id").as("id_b"), col("cid")), "cid")
          .filter(col("id_b") < col("vec_id"))
          .select(col("vec_id"), cosine.as("cosine"))
          .filter(col("cosine") >= SemTau)
          .groupBy("vec_id")
          .agg(count(lit(1)).as("n_near"), max(col("cosine")).as("max_cos"))
        asg.join(near, Seq("vec_id"), "left")
          .select(col("vec_id"), col("cid"),
            coalesce(col("n_near"), lit(0L)).as("n_near"), col("max_cos"),
            col("n_near").isNull.as("keep"))
      }),

    // SIM6: IVF-ADC ([[graft.operators.PqIndex]]) — the full
    // billion-vector ANN layout: the sim4 coarse quantizer prunes to P of
    // C inverted lists, product-quantization codes (M=8 subspaces × K=16
    // codewords = 8 nibbles/vector, ~64× smaller than the raw vector)
    // score the probed lists by pure table lookups, and only the top-R
    // ADC survivors are reranked with exact cosines. Three scale levers in
    // one operator: partition pruning (IVF), memory compression + cheap
    // scan (PQ/ADC), and bounded exact work (R·NQ rerank rows).
    //
    // Parity: codes and ADC scores are exact longs (plan-constant
    // codebooks on the data's 1e-6 grid, first-index argmin tie-break);
    // both row_number cuts carry (score, cand_id) tiebreaks; the rerank
    // cosine is the usual exact-integer-dots tree.
    QueryDef(
      "sim6_pq_topk",
      Some {
        val qd = s"(SELECT vec_id AS query_id, qv AS qv_q, dl FROM d " +
          s"WHERE vec_id < $NQ)"
        s"""WITH ${oQv()},
           |${IvfIndex.oracleAssignCtes("qv", Seq("vec_id", "qv"), Dim)},
           |enc0 AS (
           |  SELECT vec_id, cid, ${PqIndex.oracleDls("qv", Dim)} AS dls
           |  FROM asg),
           |enc AS (
           |  SELECT vec_id AS cand_id, cid,
           |    ${PqIndex.oracleEncode("dls")} AS codes
           |  FROM enc0),
           |qp AS (
           |  ${IvfIndex.oracleProbeCells(qd, "query_id", Seq("query_id", "qv_q"))}),
           |probes AS (
           |  SELECT query_id, cid, ${PqIndex.oracleLuts("qv_q", Dim)}
           |    AS luts
           |  FROM qp),
           |scored AS (
           |  SELECT p.query_id, e.cand_id,
           |    ${PqIndex.oracleAdc("p.luts", "e.codes")} AS adc
           |  FROM probes p JOIN enc e
           |    ON p.cid = e.cid AND e.cand_id <> p.query_id),
           |pool AS (
           |  ${oTopK("scored", "adc", PqPool, "query_id, cand_id, adc")}),
           |rer AS (
           |  SELECT pool.query_id, pool.cand_id, pool.adc,
           |    ${oCosine(oSide("q.qv"), oSide("c.qv"))} AS cosine
           |  FROM pool
           |  JOIN qv q ON q.vec_id = pool.query_id
           |  JOIN qv c ON c.vec_id = pool.cand_id)
           |${oTopK("rer", "cosine", TopK, "query_id, cand_id, adc, cosine")}""".stripMargin
      },
      (s, d) => {
        // codes, cid, and dl are stage columns — the encoded-corpus scan
        // (cid + codes, no raw vectors) is exactly the compressed index
        // table an IVF-ADC deployment keeps hot
        val v = EmbedStage(s, d).vectors
        val enc = v.select(col("vec_id").as("cand_id"), col("cid"),
          col("codes"))
        val probes = EmbedStage.probeCells(s, d,
            v.filter(col("vec_id") < NQ)
              .select(col("vec_id").as("query_id"), col("qv"), col("dl")),
            "query_id")
          .select(col("query_id"), col("cid"),
            PqIndex.luts(col("qv"), Dim).as("luts"))
        val scored = enc.join(broadcast(probes), "cid")
          .filter(col("cand_id") =!= col("query_id"))
          .select(col("query_id"), col("cand_id"),
            PqIndex.adc(col("codes"), col("luts")).as("adc"))
        val pool = topK(scored, "adc", PqPool)
          .select("query_id", "cand_id", "adc")
        // exact rerank: corpus scan joins the tiny pool/query dims —
        // never the reverse
        val rer = candSide(v.join(broadcast(pool),
            col("vec_id") === col("cand_id")),
            col("query_id"), col("cand_id"), col("adc"))
          .join(broadcast(querySide(v.filter(col("vec_id") < NQ),
            col("vec_id").as("query_id"))), "query_id")
        topK(rer.select(col("query_id"), col("cand_id"), col("adc"),
            cosine.as("cosine")), "cosine", TopK)
          .select("query_id", "cand_id", "adc", "cosine")
      }),

    // SIM7: k-NN CLASSIFICATION — the classic applied endpoint of the ANN
    // stack: each query vector takes the majority label of its TopK
    // nearest neighbors from the IVF-probed lists (the sim4 candidate
    // shape — at 100 TB the neighbor search is the same partition-pruned
    // scan), ties broken to the smallest label. Labels join from the
    // SOURCE table by vec_id (the index stage stays payload-free, like a
    // real vector index storing ids only); the vote runs over the bounded
    // (query × label) table.
    QueryDef(
      "sim7_knn_classify",
      Some(s"""WITH ${oQv()},
              |${IvfIndex.oracleAssignCtes("qv", Seq("vec_id", "qv"), Dim)},
              |scored AS (
              |  ${oIvfScan()}),
              |nbr AS (
              |  SELECT t.query_id, e.label FROM (
              |    ${oTopK("scored", "cosine", TopK, "query_id, cand_id")}) t
              |  JOIN embeddings e ON e.vec_id = t.cand_id),
              |votes AS (
              |  SELECT query_id, label, count(*) AS votes,
              |    sum(count(*)) OVER (PARTITION BY query_id) AS n_neighbors
              |  FROM nbr GROUP BY 1, 2)
              |SELECT query_id, label AS pred_label, votes,
              |  CAST(n_neighbors AS BIGINT) AS n_neighbors
              |FROM (
              |  SELECT *, row_number() OVER (PARTITION BY query_id
              |    ORDER BY votes DESC, label) AS vr
              |  FROM votes) WHERE vr = 1""".stripMargin),
      (s, d) => {
        val labels = Tables.embeddings(s, d).select(
          col("vec_id").as("cand_id"), col("label"))
        val nbr = topK(ivfScan(s, d, EmbedStage(s, d).vectors), "cosine",
            TopK)
          .join(labels, "cand_id")
        val wAll = Window.partitionBy("query_id")
        val wVote = Window.partitionBy("query_id")
          .orderBy(col("votes").desc, col("label"))
        nbr.groupBy("query_id", "label")
          .agg(count(lit(1)).as("votes"))
          .withColumn("n_neighbors", sum("votes").over(wAll))
          .withColumn("vr", row_number().over(wVote))
          .filter(col("vr") === 1)
          .select(col("query_id"), col("label").as("pred_label"),
            col("votes"), col("n_neighbors"))
      }),

    // SIM8: ANN recall AUDIT — recall@TopK of the IVF-probed search
    // (sim4's plan) against the exact brute-force ranking (sim1's),
    // computed ON the engine and per query: the validation pipeline any
    // production vector index runs after a rebuild, here hash-verified
    // end-to-end because both rankings are deterministic. At 100 TB the
    // exact side runs over a SAMPLE of queries (it is the expensive
    // leg — here NQ is already the sample); the audit's cost model is
    // the point, not avoided.
    QueryDef(
      "sim8_recall_audit",
      Some(s"""WITH ${oQv()},
              |${IvfIndex.oracleAssignCtes("qv", Seq("vec_id", "qv"), Dim)},
              |exact AS (
              |  ${oTopK(s"(${oExactScan()})", "cosine", TopK, "query_id, cand_id")}),
              |approx AS (
              |  ${oTopK(s"(${oIvfScan()})", "cosine", TopK, "query_id, cand_id")})
              |$oRecall""".stripMargin),
      (s, d) => {
        val v = EmbedStage(s, d).vectors
        // exact leg: corpus scan × broadcast query sample (sim1 shape);
        // approx leg: the sim4 probed-lists search (regime-aware probes)
        recall(topK(exactScan(v), "cosine", TopK),
          topK(ivfScan(s, d, v), "cosine", TopK))
      }),

    // SIM9: IVF centroid-drift audit — the index-maintenance check that
    // decides WHEN to retrain the coarse quantizer: per inverted list,
    // how far the stored centroid sits from the current member mean
    // (drift_rms, in embedding units) and how spread the members are
    // around it (mean_residual — the assignment cost the index carries).
    // Rising drift with stable residual = the corpus moved, retrain;
    // sim8 (recall audit) is the black-box symptom, this is the cause.
    //
    // Scale design: one stage read (vectors + cid — no re-quantization),
    // one per-row exact-integer residual, then the axis-sum shuffle
    // carries |C|×Dim cells (16×64 here) regardless of corpus size —
    // the per-axis sums are partial-aggregated map-side exactly like any
    // long sum. No pairwise anything.
    //
    // Parity: member-axis sums are exact longs; the per-axis mean is ONE
    // division; drift terms and per-row residuals ride fine quantization
    // grids (floor(x·g + 0.5)) — safe here because every input double is
    // bit-identical across engines (exact longs + correctly-rounded
    // ops), unlike the log-derived a31/tx10 cases that force coarse
    // grids; the two output roots are round(·, 9) per doctrine.
    QueryDef(
      "sim9_centroid_drift",
      Some {
        val cm = IvfIndex.matrix(Dim)
          .map(_.mkString("[", ", ", "]")).mkString("[", ", ", "]")
        val rsq = s"list_sum(list_transform(generate_series(1, $Dim), " +
          s"i -> (qv[i] - ($cm)[cid + 1][i]) * " +
          s"(qv[i] - ($cm)[cid + 1][i])))"
        s"""WITH ${oQv()},
           |${IvfIndex.oracleAssignCtes("qv", Seq("vec_id", "qv"), Dim)},
           |r AS (
           |  SELECT cid, qv,
           |    CAST(floor(CAST($rsq AS DOUBLE) * 1.0E-6 + 0.5) AS BIGINT)
           |      AS qr
           |  FROM asg),
           |g AS (
           |  SELECT cid, i,
           |    CAST(sum(qv[i]) AS BIGINT) AS sx,
           |    count(*) AS cnt,
           |    CAST(sum(CASE WHEN i = 1 THEN qr ELSE 0 END) AS BIGINT)
           |      AS qrs
           |  FROM r CROSS JOIN generate_series(1, $Dim) t(i)
           |  GROUP BY cid, i),
           |t2 AS (
           |  SELECT cid, cnt, qrs,
           |    CAST(floor(
           |      ((CAST(sx AS DOUBLE) / cnt - ($cm)[cid + 1][i])
           |        / 1000000.0) *
           |      ((CAST(sx AS DOUBLE) / cnt - ($cm)[cid + 1][i])
           |        / 1000000.0) * 1.0E9 + 0.5) AS BIGINT) AS qterm
           |  FROM g),
           |f AS (
           |  SELECT cid, max(cnt) AS n, CAST(sum(qterm) AS BIGINT) AS sq,
           |    CAST(sum(qrs) AS BIGINT) AS qr
           |  FROM t2 GROUP BY cid)
           |SELECT cid, CAST(n AS BIGINT) AS n,
           |  round(sqrt(CAST(sq AS DOUBLE) / 1.0E9 / $Dim.0), 9)
           |    AS drift_rms,
           |  round(sqrt(CAST(qr AS DOUBLE) / 1.0E6 / CAST(n AS DOUBLE)),
           |    9) AS mean_residual
           |FROM f""".stripMargin
      },
      (s, d) => {
        // sized to the stage's actual cid domain (the quantizer scales
        // with the corpus; the fixture floor is C, but a probe replica's
        // stage assigns cids beyond it and a C-row literal would
        // element_at into null) — effMatrix, not matrix: beyond the
        // threshold the stage's cids name two-level CHILD centroids, and
        // drift must be measured against the centroid actually assigned
        val cmat = typedLit(IvfIndex.effMatrix(Dim, EmbedStage.cells(s, d)))
        // r13: Σ(x−c)² via the native dot (xx − 2xc + cc, exact in longs
        // — identical values, so identical rounding downstream) instead
        // of the interpreted zip_with fold; all three dots are
        // whole-stage-codegen'd [[graft.functions.DotLong]] loops.
        val cvec = element_at(cmat, col("cid") + 1)
        val rsqCol = dotL(col("qv"), col("qv")) +
          dotL(cvec, cvec) - lit(2L) * dotL(col("qv"), cvec)
        val rows = EmbedStage(s, d).vectors
          .select(col("cid"), col("qv"),
            floor(rsqCol.cast("double") * 1.0e-6 + 0.5).cast("long")
              .as("qr"))
        val ax = rows.select(col("cid"), col("qr"),
          posexplode(col("qv")).as(Seq("pos", "x")))
        val g = ax.groupBy(col("cid"), (col("pos") + 1).as("i"))
          .agg(sum("x").as("sx"), count(lit(1)).as("cnt"),
            sum(when(col("pos") === 0, col("qr")).otherwise(0L))
              .as("qrs"))
        val mean = col("sx").cast("double") / col("cnt")
        val diff = (mean -
          element_at(element_at(cmat, col("cid") + 1), col("i"))) /
          lit(1000000.0)
        val qterm = floor(diff * diff * lit(1.0e9) + 0.5).cast("long")
        g.select(col("cid"), col("cnt"), col("qrs"), qterm.as("qterm"))
          .groupBy("cid")
          .agg(max("cnt").as("n"), sum("qterm").as("sq"),
            sum("qrs").as("qr"))
          .select(col("cid"), col("n"),
            round(sqrt(col("sq").cast("double") / lit(1.0e9) /
              lit(Dim.toDouble)), 9).as("drift_rms"),
            round(sqrt(col("qr").cast("double") / lit(1.0e6) /
              col("n").cast("double")), 9).as("mean_residual"))
      }),

    // SIM10: MMR diversification rerank (graft.operators.Mmr) on top of
    // the brute-force top-R candidate pool — the retrieval-then-diversify
    // composition a RAG/data-curation pipeline runs: an ANN stage bounds
    // the pool (R per query), then the greedy λ·rel − (1−λ)·max-sim-to-
    // selected pass picks K diverse results. The greedy loop is
    // sequential PER QUERY but parallel ACROSS queries
    // (groupByKey.flatMapGroups, pool bounded by construction — never
    // driver-side). λ = 0.5 exactly so 1−λ is the same IEEE double as λ
    // on both engines; rel and pairwise sims are integer-dot cosines
    // (the grid doctrine above), so the greedy argmax compares
    // bit-identical doubles and the oracle's recursive CTE replays the
    // selection exactly. Scores ship 1e-6-quantized (the tx7 pattern).
    QueryDef(
      "sim10_mmr_rerank",
      Some(s"""WITH RECURSIVE ${oQv()},
              |scored AS (
              |  ${oExactScan()}),
              |pool AS (
              |  ${oTopK("scored", "cosine", MmrPool, "query_id, cand_id, cosine AS rel")}),
              |sims AS (
              |  SELECT p1.query_id, p1.cand_id AS a, p2.cand_id AS b,
              |    ${oCosine(oSide("q.qv"), oSide("c.qv"))} AS sim
              |  FROM pool p1
              |  JOIN pool p2 ON p2.query_id = p1.query_id
              |    AND p2.cand_id <> p1.cand_id
              |  JOIN qv q ON q.vec_id = p1.cand_id
              |  JOIN qv c ON c.vec_id = p2.cand_id),
              |mmr AS (
              |  SELECT query_id, 1 AS pick_rank, cand_id,
              |    0.5 * rel AS score, [cand_id] AS chosen
              |  FROM (
              |    SELECT *, row_number() OVER (PARTITION BY query_id
              |      ORDER BY rel DESC, cand_id) AS rn
              |    FROM pool) WHERE rn = 1
              |  UNION ALL
              |  SELECT query_id, pick_rank, cand_id, score,
              |    list_append(chosen, cand_id) AS chosen
              |  FROM (
              |    SELECT *, row_number() OVER (PARTITION BY query_id
              |      ORDER BY score DESC, cand_id) AS rn
              |    FROM (
              |      SELECT m.query_id, m.pick_rank + 1 AS pick_rank,
              |        p.cand_id,
              |        0.5 * p.rel - 0.5 * (
              |          SELECT max(s.sim) FROM sims s
              |          WHERE s.query_id = m.query_id
              |            AND s.a = p.cand_id
              |            AND list_contains(m.chosen, s.b)) AS score,
              |        m.chosen
              |      FROM mmr m JOIN pool p
              |        ON p.query_id = m.query_id
              |        AND NOT list_contains(m.chosen, p.cand_id)
              |      WHERE m.pick_rank < $MmrK) t) tt
              |  WHERE rn = 1)
              |SELECT query_id, CAST(pick_rank AS BIGINT) AS pick_rank,
              |  cand_id,
              |  CAST(floor(score * 1000000.0 + 0.5) AS BIGINT) AS mmr_q
              |FROM mmr""".stripMargin),
      (s, d) => {
        val emb = EmbedStage(s, d).vectors
          .select(col("vec_id"), col("qv"), col("nsq"))
        // top-R WITHOUT the vector payload (arrays never ride the sort);
        // the ≤ NQ×R pool re-joins its qv after the cut.
        val top = topK(exactScan(emb), "cosine", MmrPool)
          .select(col("query_id"), col("cand_id"), col("cosine").as("rel"))
        val pool = emb.select(col("vec_id").as("cand_id"), col("qv"))
          .join(broadcast(top), "cand_id")
          .select("query_id", "cand_id", "rel", "qv")
        Mmr.rerank(pool, MmrK, MmrLambda).toDF()
          .select(col("query_id"),
            col("rank").cast("long").as("pick_rank"), col("cand_id"),
            floor(col("mmr_score") * 1000000.0 + 0.5).cast("long")
              .as("mmr_q"))
      }),

    // SIM11: one distributed Lloyd (k-means) refinement of the IVF coarse
    // centroids — the training step a production vector index runs
    // (IvfIndex's scaladoc promises it; this is that operator). Start
    // from the stage's coarse assignment, recompute each cluster's mean,
    // QUANTIZE it back to the 1e-6 embedding grid (floor(mean+0.5) — the
    // same correctly-rounded IEEE tree both engines), then reassign every
    // vector to its nearest refined centroid by EXACT integer L2
    // (64 × (2e6)² ≈ 2.6e14 « 2^63, so the argmin compares exact longs —
    // no float accumulation anywhere) — [[lloydStep]].
    //
    // Scale shape: iteration = two corpus scans, no corpus shuffle.
    // Per-row distances are exact longs, so the per-cluster SSE is an
    // exact long sum (rows × 2.6e14 « 2^63 up to ~3e4 rows; beyond that,
    // de-scale per-row or sum in DECIMAL).
    QueryDef(
      "sim11_kmeans_refine",
      Some(s"""WITH ${oQv()},
              |${IvfIndex.oracleAssignCtes("qv", Seq("vec_id", "qv"), Dim, "asg0")},
              |${oLloydStep(1, "asg0")}
              |SELECT cid AS cid1, count(*) AS n1,
              |  CAST(sum(CASE WHEN cid <> cid_prev THEN 1 ELSE 0 END)
              |    AS BIGINT) AS moved,
              |  CAST(sum(d) AS BIGINT) AS sse_q
              |FROM asg1 GROUP BY cid""".stripMargin),
      (s, d) => {
        val v = EmbedStage(s, d).vectors
          .select(col("vec_id"), col("qv"), col("cid"))
        lloydStep(v)
          .groupBy(col("cid").as("cid1"))
          .agg(count(lit(1)).as("n1"),
            sum(when(col("cid") =!= col("cid_prev"), 1L).otherwise(0L))
              .as("moved"),
            sum("d").as("sse_q"))
      }),

    // SIM12: the full k-means TRAINING loop — sim11's Lloyd step iterated
    // (3 rounds), emitting the per-iteration convergence telemetry an
    // operator watches: surviving cluster count, vectors that changed
    // cluster, and exact integer SSE (monotone non-increasing movement =
    // the loop is converging; `moved` hitting 0 = done). Same parity
    // machinery as sim11 — grid-quantized centroids, exact long
    // distances, strict-less smallest-cid tie-break — replayed by the
    // oracle as three chained CTE blocks.
    //
    // Scale shape per round: one (cid, dim) hash-agg (≤ C×Dim cells on
    // the wire) + one broadcast fold reassignment — two corpus scans,
    // never a corpus shuffle; each round's assignment persists so round
    // i+1 reads a materialized frame, not i's recomputed lineage (at
    // 100s of rounds you also checkpoint every ~10 to cut lineage — the
    // ConnectedComponents doctrine; 3 rounds don't need it).
    {
      val Iters = 3
      QueryDef(
        "sim12_kmeans_train",
        Some {
          val stats = (1 to Iters).map { i =>
            s"""SELECT CAST($i AS BIGINT) AS iter,
               |  CAST(count(DISTINCT cid) AS BIGINT) AS n_clusters,
               |  CAST(sum(CASE WHEN cid <> cid_prev THEN 1 ELSE 0 END)
               |    AS BIGINT) AS moved,
               |  CAST(sum(d) AS BIGINT) AS sse_q
               |FROM asg$i""".stripMargin
          }.mkString("\nUNION ALL\n")
          s"""WITH ${oQv()},
             |${IvfIndex.oracleAssignCtes("qv", Seq("vec_id", "qv"), Dim, "asg0")},
             |${(1 to Iters).map(i => oLloydStep(i, s"asg${i - 1}")).mkString(",\n")}
             |$stats""".stripMargin
        },
        (s, d) => {
          var asg = EmbedStage(s, d).vectors
            .select(col("vec_id"), col("qv"), col("cid"))
          val perIter = (1 to Iters).map { it =>
            val next = lloydStep(asg).persist()
            val stats = next.agg(
                countDistinct("cid").cast("long").as("n_clusters"),
                sum(when(col("cid") =!= col("cid_prev"), 1L).otherwise(0L))
                  .as("moved"),
                sum("d").as("sse_q"))
              .select(lit(it).cast("long").as("iter"), col("n_clusters"),
                col("moved"), col("sse_q"))
            asg = next.select("vec_id", "qv", "cid")
            stats
          }
          perIter.reduce(_ unionByName _)
        })
    },

    // SIM13: HYBRID retrieval fusion — reciprocal-rank fusion (RRF,
    // Cormack/Clarke/Buettcher '09: score(d) = Σ_legs 1/(k + rank_leg(d)),
    // k=60) of a lexical BM25 ranking (tx7's scorer, shared via
    // TextOps.bm25Scores so the legs cannot drift) and a vector cosine
    // ranking (sim1's exact integer-grid scoring) over the doc-aligned
    // corpus — the standard two-tower retrieval stack's merge step.
    // Query = document QV ("more like this"): its embedding drives the
    // vector leg, the fixed Bm25Terms drive the lexical leg; the query
    // doc itself is excluded from both pools.
    //
    // Scale shape: each leg is TakeOrdered top-R (R=100) — never a global
    // rank over the corpus. Ranks are then row_number over the R-row pool
    // (a single-partition window over a CONSTANT-bounded frame, not the
    // data), and the fusion is a full-outer join of two R-row frames —
    // every post-retrieval structure is O(R), independent of corpus size.
    //
    // Parity: ranks are exact ints (both legs tiebreak on doc_id; the
    // lexical order key is tx7's quantized LONG, the vector key the
    // bit-identical cosine double), each contribution 1/(60+rank) and the
    // two-term sum are identical IEEE trees, and the emitted fusion score
    // is floor(rrf·1e9+0.5) AS LONG.
    {
      val QV = 0        // query document/vector id
      val PoolR = 100   // per-leg retrieval depth
      val FuseK = 20    // fused results returned
      val RrfK = 60.0   // RRF rank damping constant
      QueryDef(
        "sim13_hybrid_rrf",
        Some(s"""WITH ${TextOps.oBm25Cte(TextOps.Bm25Terms)},
                |lexpool AS (
                |  SELECT doc_id, score_q FROM bm_scored WHERE doc_id <> $QV
                |  ORDER BY score_q DESC, doc_id LIMIT $PoolR),
                |lex AS (
                |  SELECT doc_id, row_number() OVER (
                |    ORDER BY score_q DESC, doc_id) AS rank_lex
                |  FROM lexpool),
                |${oQv()},
                |vscored AS (
                |  SELECT c.vec_id AS doc_id,
                |    ${oCosine(oSide("q.qv"), oSide("c.qv"))} AS cosine
                |  FROM qv q JOIN qv c ON c.vec_id <> q.vec_id
                |  WHERE q.vec_id = $QV),
                |vecpool AS (
                |  SELECT doc_id, cosine FROM vscored
                |  ORDER BY cosine DESC, doc_id LIMIT $PoolR),
                |vec AS (
                |  SELECT doc_id, row_number() OVER (
                |    ORDER BY cosine DESC, doc_id) AS rank_vec
                |  FROM vecpool),
                |fused AS (
                |  SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
                |    l.rank_lex, v.rank_vec,
                |    COALESCE(1.0e0 / ($RrfK + CAST(l.rank_lex AS DOUBLE)), 0.0e0) +
                |    COALESCE(1.0e0 / ($RrfK + CAST(v.rank_vec AS DOUBLE)), 0.0e0)
                |      AS rrf
                |  FROM lex l FULL OUTER JOIN vec v ON l.doc_id = v.doc_id)
                |SELECT doc_id,
                |  CAST(floor(rrf * 1.0e9 + 0.5e0) AS BIGINT) AS rrf_q,
                |  rank_lex, rank_vec
                |FROM fused
                |ORDER BY rrf_q DESC, doc_id
                |LIMIT $FuseK""".stripMargin),
        (s, d) => {
          val lexW = Window.orderBy(col("score_q").desc, col("doc_id"))
          val lex = TextOps.bm25Scores(s, d, TextOps.Bm25Terms)
            .filter(col("doc_id") =!= QV)
            .orderBy(col("score_q").desc, col("doc_id")).limit(PoolR)
            .withColumn("rank_lex", row_number().over(lexW).cast("long"))
            .select("doc_id", "rank_lex")
          val emb = EmbedStage(s, d).vectors
            .select(col("vec_id"), col("qv"), col("nsq"))
          val vecW = Window.orderBy(col("cosine").desc, col("doc_id"))
          val vec = broadcast(querySide(emb.filter(col("vec_id") === QV)))
            .crossJoin(candSide(emb.filter(col("vec_id") =!= QV),
              col("vec_id").as("doc_id")))
            .select(col("doc_id"), cosine.as("cosine"))
            .orderBy(col("cosine").desc, col("doc_id")).limit(PoolR)
            .withColumn("rank_vec", row_number().over(vecW).cast("long"))
            .select("doc_id", "rank_vec")
          val rrf =
            coalesce(lit(1.0) / (lit(RrfK) + col("rank_lex").cast("double")),
              lit(0.0)) +
            coalesce(lit(1.0) / (lit(RrfK) + col("rank_vec").cast("double")),
              lit(0.0))
          lex.join(vec, Seq("doc_id"), "full_outer")
            .select(col("doc_id"),
              floor(rrf * lit(1e9) + lit(0.5)).cast("long").as("rrf_q"),
              col("rank_lex"), col("rank_vec"))
            .orderBy(col("rrf_q").desc, col("doc_id"))
            .limit(FuseK)
        })
    },

    // SIM14: batch kNN JOIN — the top-k neighbor LIST for EVERY vector
    // (the kNN-graph construction primitive behind connectivity-based
    // dedup, label propagation, and diversity scoring), not the
    // fixed-query-set search of sim1/sim2/sim4 nor sim5's pairwise
    // keep/drop decision. Candidates come from the IVF cell assignment
    // (single-probe: a vector's neighbors are sought in ITS cell — the
    // standard cell-local kNN-join; boundary misses are the documented
    // recall trade of single-probe, measured for this index family by
    // sim8's recall audit). The join is corpus ⋈ corpus on the cell id —
    // a co-located equi join whose pair space is Σ|cell|², bounded by
    // the quantizer's cell sizes, never n².
    //
    // Scale law (closed in round 10): the stage's quantizer now grows
    // with the corpus — EmbedStage builds with IvfIndex.cellsFor(n) =
    // max(C, n/TargetCellSize) cells, pinning |cell| ≈ target so
    // Σ|cell|² = cells·target² = n·target is LINEAR in n. Round 9's
    // fixture-bound C=16 made a 20× corpus 20× denser per cell and
    // measured 35.8× here; the data-dependent cell count removes that
    // quadratic density term while every oracle SF (n ≤ 2k « C·target)
    // stays on the C floor, so the DuckDB oracle still replays
    // assignment bit-for-bit.
    //
    // Parity: sim4's exact integer-grid scoring and assignment replay;
    // ranks tiebreak on cand_id; k=3.
    {
      val KnnK = 3
      QueryDef(
        "sim14_knn_join",
        Some(s"""WITH ${oQv()},
                |${IvfIndex.oracleAssignCtes("qv", Seq("vec_id", "qv"), Dim)},
                |scored AS (
                |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                |    ${oCosine(oSide("q.qv"), oSide("c.qv"))} AS cosine
                |  FROM asg q JOIN asg c
                |    ON q.cid = c.cid AND c.vec_id <> q.vec_id)
                |${oTopK("scored", "cosine", KnnK,
                    "query_id, cand_id, CAST(rn AS BIGINT) AS rank, cosine")}""".stripMargin),
        (s, d) => {
          val v = EmbedStage(s, d).vectors
            .select(col("vec_id"), col("qv"), col("nsq"), col("cid"))
          // The top-k window partitions by (cid, query_id), NOT query_id
          // alone. Semantically identical — single-probe means every
          // candidate row of a query carries the query's own cell id, so
          // the extra key splits nothing — but the plan changes: the
          // join's HashPartitioning(cid) already satisfies the window's
          // clustering on a SUPERSET of keys, so the scored pair stream
          // (Σ|cell|² rows — n·target, the biggest intermediate in the
          // whole sim family) is ranked WHERE IT WAS JOINED instead of
          // being exchanged a second time by query_id. Measured at the
          // 1.5M-vector hier point (x750): one less Exchange over ~384M
          // pair rows (PROBE_r12; SimilarityPlanSpec pins the shape).
          val scored = querySide(v, col("vec_id").as("query_id"), col("cid"))
            .join(candSide(v, col("vec_id").as("cand_id"), col("cid")), "cid")
            .filter(col("cand_id") =!= col("query_id"))
            .select(col("cid"), col("query_id"), col("cand_id"),
              cosine.as("cosine"))
          topK(scored, "cosine", KnnK, Seq("cid", "query_id"))
            .select(col("query_id"), col("cand_id"),
              col("rn").cast("long").as("rank"), col("cosine"))
        })
    },

    // SIM15: attribute-FILTERED ANN — "top-k among candidates with the
    // query's label" (the filtered-search axis every vector store
    // exposes; category-scoped retrieval). The filter is a PRE-filter:
    // the label rides the candidate JOIN KEY next to the IVF cell, so
    // out-of-label vectors never materialize as candidates — the correct
    // plan when the filter is selective (a POST-filter would score the
    // full cell and then discard, starving top-k below k). Labels come
    // from a thin (vec_id, label) projection joined onto the stage —
    // broadcast at fixture scale, co-located equi join at corpus scale.
    QueryDef(
      "sim15_filtered_ann",
      Some(s"""WITH ${oQv("label")},
              |${IvfIndex.oracleAssignCtes("qv", Seq("vec_id", "label", "qv"), Dim)},
              |scored AS (
              |  ${oIvfScan("label")})
              |${oTopK("scored", "cosine", TopK, "query_id, cand_id, label, cosine")}""".stripMargin),
      (s, d) => {
        val lab = Tables.embeddings(s, d).select("vec_id", "label")
        val v = EmbedStage(s, d).vectors.join(lab, "vec_id")
        topK(ivfScan(s, d, v, "label"), "cosine", TopK)
          .select("query_id", "cand_id", "label", "cosine")
      }),

    // SIM16: SCALAR (int8) QUANTIZATION recall — the fourth compression
    // flavor beside IVF (sim4), PQ (sim6), and sign-LSH (sim2): each
    // DIMENSION is affinely mapped to 0..255 by its corpus min/max (the
    // faiss SQ8 / Lucene int8 HNSW trick — 4× memory cut, distances on
    // byte codes), and the audit reports per-query top-k recall of the
    // int8 ranking against the exact ranking, sim8's methodology on a
    // different axis of approximation.
    //
    // Scale shape: the dim-stats pass is ONE min/max aggregate whose
    // shuffle carries Dim cells regardless of corpus size, re-attached
    // as a 1-row broadcast (never a driver collect); encoding is a pure
    // projection; both rankings share the sim1 broadcast-probe scan.
    //
    // Parity: codes derive from the stage's exact-long grid through one
    // guarded affine tree — (double)(q-mn) * 255 / (double)(mx-mn),
    // floor+0.5 — identical on both engines; code dots/norms are exact
    // longs (≤ 255²·64 ≪ 2^63); recall is a ratio of counts.
    QueryDef(
      "sim16_sq_recall",
      Some {
        val code = "CASE WHEN mx[i] = mn[i] THEN CAST(0 AS BIGINT) " +
          "ELSE CAST(floor(CAST(qv[i] - mn[i] AS DOUBLE) * 255.0 / " +
          "CAST(mx[i] - mn[i] AS DOUBLE) + 0.5) AS BIGINT) END"
        s"""WITH ${oQv()},
           |ds AS (
           |  SELECT i AS pos, MIN(qv[i]) AS mn, MAX(qv[i]) AS mx
           |  FROM qv CROSS JOIN generate_series(1, $Dim) t(i)
           |  GROUP BY 1),
           |da AS (
           |  SELECT list(mn ORDER BY pos) AS mn, list(mx ORDER BY pos) AS mx
           |  FROM ds),
           |cv AS (
           |  SELECT vec_id,
           |    list_transform(generate_series(1, $Dim), i -> $code)
           |      AS code
           |  FROM qv CROSS JOIN da),
           |exact AS (
           |  ${oTopK(s"(${oExactScan()})", "cosine", TopK, "query_id, cand_id")}),
           |approx AS (
           |  ${oTopK(s"(${oExactScan("cv", "code")})", "cosine", TopK, "query_id, cand_id")})
           |$oRecall""".stripMargin
      },
      (s, d) => {
        val v = EmbedStage(s, d).vectors.select("vec_id", "qv", "nsq")
        // Dim-cell min/max aggregate → 1-row broadcast of two arrays
        val stats = broadcast(
          v.select(posexplode(col("qv")))
            .groupBy("pos").agg(min("col").as("mn"), max("col").as("mx"))
            .agg(array_sort(collect_list(struct(col("pos"), col("mn"),
              col("mx")))).as("a"))
            .select(transform(col("a"), e => e.getField("mn")).as("mn"),
              transform(col("a"), e => e.getField("mx")).as("mx")))
        val codeAt = (i: Column) => {
          val q = element_at(col("qv"), i)
          val mn = element_at(col("mn"), i); val mx = element_at(col("mx"), i)
          when(mx === mn, lit(0L)).otherwise(
            floor((q - mn).cast("double") * 255.0 /
              (mx - mn).cast("double") + 0.5).cast("long"))
        }
        // the int8 codes as the scan's (qv, nsq) vectors
        val codes = v.crossJoin(stats)
          .select(col("vec_id"),
            transform(sequence(lit(1), lit(Dim)), codeAt).as("qv"))
          .withColumn("nsq", VectorOps.normSq(col("qv")))
        recall(topK(exactScan(v), "cosine", TopK),
          topK(exactScan(codes), "cosine", TopK))
      }),

    // SIM17: SEMANTIC decontamination — the embedding-space complement
    // of dd8's n-gram scrub (operators/SemanticDecon): a paraphrased
    // eval question shares no n-grams but its embedding survives, so
    // the leak audit is max-cosine-vs-benchmark per corpus vector.
    // Benchmark = the 1/29 vec_id subset (dd8's convention); its
    // buckets AND vectors ride broadcasts, candidates come only from
    // staged sign-LSH collisions, never all-pairs. Detection semantics
    // on a planted leak are spec-pinned (SemanticDeconSpec); this row
    // hash-verifies the full pipeline (bucket collision set, exact
    // cosines, null-candidate keeps) against the raw-embedding replay.
    QueryDef(
      "sim17_semantic_decon",
      Some(s"""WITH ${oQv()},
              |bk AS (
              |  ${SignLsh.oracleTables("qv", LshTables, LshBits, Dim)}),
              |cand AS (
              |  SELECT DISTINCT a.vec_id AS cid, b.vec_id AS bid
              |  FROM bk a JOIN bk b ON a.t = b.t AND a.bucket = b.bucket
              |  WHERE a.vec_id % 29 <> 0 AND b.vec_id % 29 = 0),
              |cs AS (
              |  SELECT cd.cid,
              |    ${oCosine(oSide("q.qv"), oSide("c.qv"))} AS cosine
              |  FROM cand cd
              |  JOIN qv q ON cd.cid = q.vec_id
              |  JOIN qv c ON cd.bid = c.vec_id),
              |agg AS (
              |  SELECT cid, max(cosine) AS max_cos,
              |    CAST(count(*) AS BIGINT) AS n_cand
              |  FROM cs GROUP BY 1)
              |SELECT e.vec_id, a.max_cos,
              |  coalesce(a.n_cand, CAST(0 AS BIGINT)) AS n_cand,
              |  (a.max_cos IS NULL OR a.max_cos < $SemTau) AS keep
              |FROM (SELECT vec_id FROM embeddings WHERE vec_id % 29 <> 0) e
              |LEFT JOIN agg a ON e.vec_id = a.cid""".stripMargin),
      (s, d) => {
        val st = EmbedStage(s, d)
        val isBench = col("vec_id") % 29 === 0
        def side(bench: Boolean) = {
          val f = if (bench) isBench else !isBench
          (SignLsh.capBuckets(
             st.buckets.filter(f).select(col("vec_id").as("id"),
               col("table_id"), col("bucket_pair").as("bucket")),
             MaxLshBucket,
             if (bench) None else Some("sim17_dropped_bucket_rows")),
           st.vectors.filter(f).select(col("vec_id").as("id"),
             col("qv"), col("nsq")))
        }
        val (cb, cv) = side(bench = false)
        val (bb, bv) = side(bench = true)
        val out = SemanticDecon.audit(
          cb, bb, cv, bv, SemTau)
        // non-vacuity: bucket collisions must exist at every SF — a
        // zero-candidate audit proves nothing about the pipeline
        require(out.filter(col("n_cand") > 0).limit(1).count() > 0,
          "sim17: no corpus-vs-benchmark bucket collisions — vacuous")
        out
      }),
  )
}

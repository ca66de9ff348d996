package graft.queries

import graft.QueryDef
import graft.operators.{PassageGraph, TextOps}
import org.apache.spark.sql.functions._

/** Distributed graph analytics over the corpus duplication graph — thin
  * oracle-verified wrappers over [[graft.operators.PassageGraph]] (the
  * materialized shared-passage edge stage + iterative algorithms; graph
  * semantics, scale design, and parity doctrine documented there).
  *
  * Parity recap: PageRank mass is integer-quantized on a 1e-12 grid and
  * every iteration is pure truncating-integer arithmetic, so the rank longs
  * are bit-identical across engines after any number of rounds; the only
  * float is one final de-scale division. The oracle unrolls the iterations
  * as chained CTEs (aggregation over a recursive reference is not portable
  * SQL). Triangle clustering is one division of exact integers.
  */
object GraphQueries {

  /** Power-iteration rounds (fixed — the published fixed-K PageRank). */
  private val Iters = 8
  /** Damping on the percent grid: r' = 15%·(1/N) + 85%·Σ contrib. */
  private val DampPct = 85
  /** BFS relaxation rounds (g4) — the fixture graph's diameter from the
    * seed set is ≤ 2 at every SF, so 4 rounds prove convergence slack. */
  private val BfsIters = 4

  /** Oracle CTE preamble mirroring [[PassageGraph.edgesOf]]/degrees:
    * documents → distinct (doc, passage-hash) → df-capped shared-passage
    * edges (both directions) → degrees. */
  private val oGraph =
    s"""WITH ${TextOps.oPassageCtes(PassageGraph.P)},
       |pd AS (SELECT DISTINCT doc_id, ph FROM p),
       |okp AS (
       |  SELECT ph FROM pd GROUP BY ph
       |  HAVING count(*) BETWEEN 2 AND ${PassageGraph.MaxDf}),
       |e AS (
       |  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
       |  FROM pd a JOIN okp USING (ph) JOIN pd b USING (ph)
       |  WHERE a.doc_id <> b.doc_id),
       |deg AS (SELECT src AS doc_id, count(*) AS deg FROM e GROUP BY 1)"""
      .stripMargin

  val all: Seq[QueryDef] = Seq(

    // G1: PageRank over the shared-passage graph — authority-based
    // canonical-representative selection for duplicate neighborhoods (the
    // centrality complement to dd7's min-id keeper). Fixed 8-round power
    // iteration; the end-to-end hash compare on rank_q verifies every
    // round's integer arithmetic was bit-identical.
    QueryDef(
      "g1_pagerank",
      Some {
        val S = PassageGraph.Scale
        val init =
          s"""n AS (SELECT count(*) AS nn FROM deg),
             |it0 AS (
             |  SELECT doc_id, deg, $S // nn AS r
             |  FROM deg CROSS JOIN n)""".stripMargin
        val steps = (1 to Iters).map { k =>
          s"""it$k AS (
             |  SELECT d.doc_id, d.deg,
             |    (${100 - DampPct} * ($S // nn)) // 100 +
             |    ($DampPct * s.contrib) // 100 AS r
             |  FROM (
             |    SELECT e.dst AS doc_id,
             |      CAST(SUM(p.r // p.deg) AS BIGINT) AS contrib
             |    FROM e JOIN it${k - 1} p ON e.src = p.doc_id
             |    GROUP BY e.dst) s
             |  JOIN deg d USING (doc_id) CROSS JOIN n)""".stripMargin
        }
        (Seq(oGraph, init) ++ steps).mkString(",\n") +
          s"""
             |SELECT doc_id, deg, r AS rank_q,
             |  CAST(r AS DOUBLE) / $S.0 AS score
             |FROM it$Iters""".stripMargin
      },
      (s, d) => {
        val (edges, deg) = PassageGraph(s, d)
        PassageGraph.pagerank(edges, deg, Iters, DampPct)
          .select(col("doc_id"), col("deg"), col("r").as("rank_q"),
            (col("r").cast("double") / PassageGraph.Scale.toDouble)
              .as("score"))
      }),

    // G2: per-node triangle count + local clustering coefficient over the
    // same graph — the cohesion audit that separates paste-chains (path-
    // shaped, clustering≈0) from mirrored clusters (clique-shaped,
    // clustering≈1) before choosing a dedup keep policy.
    QueryDef(
      "g2_triangle_count",
      Some(oGraph +
        s""",
           |eu AS (SELECT src, dst FROM e WHERE src < dst),
           |tri AS (
           |  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
           |  FROM eu e1
           |  JOIN eu e2 ON e1.dst = e2.src
           |  JOIN eu e3 ON e3.src = e1.src AND e3.dst = e2.dst),
           |tn AS (
           |  SELECT node, count(*) AS tri FROM (
           |    SELECT unnest([a, b, c]) AS node FROM tri) GROUP BY 1)
           |SELECT d.doc_id, d.deg,
           |  CAST(COALESCE(tn.tri, 0) AS BIGINT) AS triangles,
           |  CASE WHEN d.deg >= 2 THEN
           |    CAST(2 * COALESCE(tn.tri, 0) AS DOUBLE) /
           |    (CAST(d.deg AS DOUBLE) * CAST(d.deg - 1 AS DOUBLE))
           |  ELSE CAST(0.0 AS DOUBLE) END AS clustering
           |FROM deg d LEFT JOIN tn ON tn.node = d.doc_id""".stripMargin),
      (s, d) => {
        val (edges, deg) = PassageGraph(s, d)
        PassageGraph.triangleCounts(edges, deg)
      }),

    // G3: common-neighbor LINK PREDICTION — the recommendation/cluster-
    // completion primitive over the duplication graph: non-adjacent doc
    // pairs ranked by shared-neighbor evidence (count + neighbor-set
    // Jaccard). The wedge-join pair space is Σ deg(w)², bounded by the
    // stage's df cap; semantics, scale shape, and parity in
    // [[PassageGraph.linkPrediction]].
    QueryDef(
      "g3_link_prediction",
      Some(oGraph +
        s""",
           |cn AS (
           |  SELECT a.src AS u, b.dst AS v,
           |    CAST(count(*) AS BIGINT) AS common_n
           |  FROM e a JOIN e b ON a.dst = b.src
           |  WHERE a.src < b.dst
           |  GROUP BY 1, 2
           |  HAVING count(*) >= 1),
           |ne AS (
           |  SELECT cn.* FROM cn
           |  WHERE NOT EXISTS (SELECT 1 FROM e
           |    WHERE e.src = cn.u AND e.dst = cn.v))
           |SELECT ne.u, ne.v, ne.common_n,
           |  CAST(floor(CAST(ne.common_n AS DOUBLE) /
           |    CAST(du.deg + dv.deg - ne.common_n AS DOUBLE) *
           |    1.0e9 + 0.5e0) AS BIGINT) AS jaccard_q
           |FROM ne
           |JOIN deg du ON du.doc_id = ne.u
           |JOIN deg dv ON dv.doc_id = ne.v""".stripMargin),
      (s, d) => {
        val (edges, deg) = PassageGraph(s, d)
        PassageGraph.linkPrediction(edges, deg, minCommon = 1)
      }),

    // G4: multi-source BFS hop distance — reachability over the
    // duplication graph ("every doc within k hops of a seed"), the
    // contamination-radius query a lakehouse runs when a known-bad
    // document family must be quarantined transitively (one shared
    // passage at a time). Seeds are the 5 lowest-id graph nodes
    // (deterministic: doc_id is unique). Four Pregel rounds: per round
    // one src-partitioned equi-join + one min-agg over the |V|-bounded
    // frontier frame, lineage cut per round; the oracle unrolls the
    // same four relaxations as CTE steps (the g1 doctrine). Distances
    // are exact longs — parity is structural.
    QueryDef(
      "g4_bfs_distance",
      Some(oGraph + (s""",
           |f0 AS (
           |  SELECT doc_id, CAST(0 AS BIGINT) AS dist
           |  FROM (SELECT doc_id FROM deg ORDER BY doc_id LIMIT 5))""" +
        (1 to BfsIters).map { k =>
          s""",
           |f$k AS (
           |  SELECT doc_id, MIN(dist) AS dist FROM (
           |    SELECT doc_id, dist FROM f${k - 1}
           |    UNION ALL
           |    SELECT e.dst AS doc_id, p.dist + 1 AS dist
           |    FROM e JOIN f${k - 1} p ON e.src = p.doc_id) GROUP BY 1)"""
        }.mkString + s"""
           |SELECT f.doc_id, d.deg, f.dist
           |FROM f$BfsIters f JOIN deg d USING (doc_id)""").stripMargin),
      (s, d) => {
        val (edges, deg) = PassageGraph(s, d)
        val seeds = deg.orderBy("doc_id").limit(5).select("doc_id")
        val dist = PassageGraph.bfs(edges, seeds, BfsIters)
        // non-vacuity: the frontier must actually expand past the seeds,
        // or the relaxation rounds under test never fired
        require(dist.filter(col("dist") > 0).limit(1).count() > 0,
          "g4: BFS frontier never left the seed set")
        dist.join(deg, "doc_id").select("doc_id", "deg", "dist")
      }),
  )
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) ANN index over quantized embeddings — the
  * partition-pruned complement to [[SignLsh]] (reference analog: the
  * pgvector-style similarity lookups; structure per Jégou et al.'s
  * IVF-ADC, coarse quantizer + probed exact scoring).
  *
  * Every vector is ASSIGNED to its nearest coarse centroid (argmax inner
  * product over `C` fixed centroids); a query scores only vectors whose
  * assigned centroid is among its `P` best centroids. Unlike LSH (where a
  * vector lands in `tables` buckets), assignment is a PARTITION of the
  * corpus: each vector appears in exactly one inverted list, so the
  * candidate join needs no distinct — and at 100 TB the inverted lists
  * are the partition layout (write the corpus bucketed by `cid` and a
  * probe touches P/C of the data).
  *
  * Centroids are PLAN-TIME integer constants on the same 1e-6 grid as the
  * quantized vectors — a production system k-means-trains them; the
  * operator's correctness contract (exact integer dots, deterministic
  * argmax with first-index tie-break) is identical either way, and fixed
  * constants make the assignment replayable by the DuckDB oracle
  * bit-for-bit. Dots stay in long arithmetic: |qv|≤~5e6 per axis,
  * centroid axes ≤1e6, 64 axes → |dot| ≤ 3.2e14 « 2^63.
  *
  * The QUANTIZER SCALES WITH THE CORPUS: the centroid family is defined
  * for every index j (a splitmix64 mix of the flattened (j, axis)
  * index — full-avalanche, because an affine family degenerates under
  * argmax; see [[centroid]]), and a
  * stage build uses [[cellsFor]] cells — `max(C, n / TargetCellSize)` —
  * so the inverted-list size is pinned at ≈[[TargetCellSize]] and the
  * cell-local pair space Σ|cell|² = cells·target² = n·target stays LINEAR
  * in n (the IVF scaling law; with a FIXED cell count, an N× corpus makes
  * every list N× denser and pair work grows ~quadratically — the shape
  * the 20× scale probe flagged on sim14 in round 9). [[C]] is the floor:
  * every oracle fixture (≤2k vectors « C·target) sits on it, so the
  * DuckDB oracles — which bake the C-row centroid matrix as literal SQL —
  * keep replaying assignment bit-for-bit at the verified SFs.
  *
  * The C dots are computed through ONE higher-order expression over the
  * centroid-matrix literal, not C unrolled dim-term sums: a 16×64
  * unrolled tree is ~1000 Catalyst nodes whose per-query analysis/
  * optimization costs seconds of driver time, dwarfing the (tiny)
  * interpreted-lambda execution cost it was avoiding.
  */
object IvfIndex {

  val C = 16 // coarse-centroid FLOOR (exact cell count at the oracle SFs)
  val P = 4  // probed cells per query in the FLAT regime (every oracle
             // SF), and the floor of the scaled hier budget — hierBudget

  /** Target inverted-list size. A corpus of n vectors gets
    * `max(C, n / TargetCellSize)` cells, so list density — and with it
    * the cell-local pair space per row — is bounded regardless of n. */
  val TargetCellSize = 256L

  /** Data-dependent cell count for an n-vector corpus (see scaladoc).
    * Computed in Long and bounds-checked: a silent .toInt wrap at
    * extreme n would go NEGATIVE and scramble the [[isHier]] regime
    * routing — the exact silent fallthrough this guard exists to
    * prevent. (2³¹ cells ≈ 5.5e11 vectors — int cids themselves, not
    * the two-level quantizer, are the binding constraint there.) */
  def cellsFor(n: Long): Int = {
    val c = math.max(C.toLong, n / TargetCellSize)
    require(c <= Int.MaxValue,
      s"cellsFor: $c cells for n=$n overflows the int cid domain — " +
        "widen cid to long before running a corpus this size")
    c.toInt
  }

  /** Deterministic centroid axis values on the 1e-6 quantization grid,
    * in [-1e6, 1e6] — a splitmix64 finalizer over the flattened index:
    * plan constants defined for EVERY j, so the quantizer grows without
    * retraining (see scaladoc).
    *
    * Round 11 replaced the original single-step LCG here after the
    * regime-boundary probe caught its argmax degeneracy: an LCG is
    * AFFINE in the index, so centroid j is (up to mod wraps) a constant
    * shift of centroid j−1 and the family spans only ~128 effectively
    * distinct directions — measured on a 200k-vector corpus, argmax
    * used exactly 128 of 781 configured cells (mean list 6× target,
    * Σ|cell|² pair work 4× the design), and no corpus growth could ever
    * populate cell 129. The full-avalanche mix has no linear structure
    * across j: the same corpus uses 699/781 cells at target density.
    * Both engines read the rendered MATRIX literal (never the formula),
    * so the swap is invisible to the oracle contract. */
  def centroid(j: Int, dim: Int): IndexedSeq[Long] =
    (0 until dim).map { k =>
      val idx = j.toLong * dim + k
      var z = idx + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z = z ^ (z >>> 31)
      math.floorMod(z, 2000001L) - 1000000L
    }

  /** The first `cells` centroids — a PREFIX family: matrix(dim, c') for
    * c' > c extends matrix(dim, c) without changing existing rows. */
  def matrix(dim: Int, cells: Int = C): Seq[Seq[Long]] =
    (0 until cells).map(j => centroid(j, dim): Seq[Long])

  /** All `cells` centroid inner products of a quantized array<long>
    * column, as one array<long> column (index = centroid id). */
  def dots(qv: Column, dim: Int, cells: Int = C): Column = {
    val cmat = typedLit(matrix(dim, cells))
    transform(cmat, c =>
      aggregate(zip_with(qv, c, (x, w) => x * w), lit(0L), (a, v) => a + v))
  }

  /** DuckDB text of [[dots]] over a list column expression `qv`. */
  def oracleDots(qv: String, dim: Int): String = {
    val lit = matrix(dim)
      .map(_.mkString("[", ", ", "]")).mkString("[", ", ", "]")
    s"list_transform($lit, c -> list_sum(" +
      s"list_transform(generate_series(1, len($qv)), i -> $qv[i] * c[i])))"
  }

  /** Assigned centroid id from the dot array: argmax, ties to the LOWEST
    * index (first-occurrence position — identical in SQL). */
  def assign(dl: Column): Column =
    (array_position(dl, array_max(dl)) - 1).cast("int")

  /** DuckDB text of [[assign]] over a list column expression `dl`. */
  def oracleAssign(dl: String): String =
    s"CAST(list_position($dl, list_max($dl)) - 1 AS INT)"

  /** DuckDB CTEs replaying the stage's `dl` and `cid` columns over the
    * rows of `src` (which carry the quantized list `qv`): `d` adds the
    * centroid dots `dl`, then `asg` (or the name given) the assigned cell
    * `cid`. `cols` are carried through both. */
  def oracleAssignCtes(src: String, cols: Seq[String], dim: Int,
                       asg: String = "asg"): String =
    s"""d AS (
       |  SELECT ${cols.mkString(", ")}, ${oracleDots("qv", dim)} AS dl
       |  FROM $src),
       |$asg AS (
       |  SELECT ${cols.mkString(", ")}, ${oracleAssign("dl")} AS cid
       |  FROM d)""".stripMargin

  /** DuckDB text of [[probeCells]] at the [[C]]-cell floor (every oracle
    * SF): each row of relation `q`, which carries the dots `dl`, expands
    * to its [[P]] best cells, ties to the lowest cell. `keep` columns are
    * carried and `cid` is added. */
  def oracleProbeCells(q: String, qid: String, keep: Seq[String]): String =
    s"""SELECT ${(keep :+ "cid").mkString(", ")} FROM (
       |  SELECT ${keep.map("q." + _).mkString(", ")},
       |    CAST(t.j AS INT) AS cid,
       |    row_number() OVER (PARTITION BY q.$qid
       |      ORDER BY q.dl[t.j + 1] DESC, t.j) AS rn
       |  FROM $q q, generate_series(0, ${C - 1}) t(j))
       |WHERE rn <= $P""".stripMargin

  // ---------------------------------------------------------------------
  // Hierarchical (two-level) quantizer — the beyond-threshold regime
  // ---------------------------------------------------------------------

  /** Flat assignment costs O(cells·dim) per vector; with cells ∝ n the
    * whole index build is O(n²·dim/target) — fine through hundreds of
    * cells (every fixture and probe scale), quadratic at warehouse n.
    * Above this cell count the flat path is the wrong plan and the build
    * SWITCHES to the two-level quantizer below (the same move FAISS
    * makes: assign against a coarse net first) — [[EmbedStage]] routes on
    * [[isHier]], storing parent dots as `dl` and [[assignHier]] cells as
    * `cid`; [[probeCells]] expands queries correctly in both regimes.
    * 4096 cells ≈ a 1M-vector corpus at the default target — far above
    * anything the local fixtures reach, so every oracle SF stays flat. */
  val HierarchyThreshold = 4096

  /** Two-level cell geometry for `cells` total: G = ⌈√cells⌉ PARENT
    * centroids (the existing prefix family — parents are coarse anchors),
    * each with up to B = ⌈cells/G⌉ CHILDREN placed NEAR their parent:
    * child (g, i) = parent g + a small LCG jitter in [-1e5, 1e5] per
    * axis (10% of the coordinate range). Locality is the point — a
    * vector's best child almost always lives under its best parent, so
    * argmax(parents) → argmax(children of winner) ≈ argmax(all children)
    * at O((G + B)·dim) = O(√cells·dim) per vector: the build term drops
    * from quadratic to n^1.5 (and to n·√target with a fixed parent
    * fanout). Child cid = g·B + i, a partition of [0, cells). */
  def hierGeometry(cells: Int): (Int, Int) = {
    val g = math.ceil(math.sqrt(cells.toDouble)).toInt
    val b = (cells + g - 1) / g
    require(b < (1 << 14),
      s"hierGeometry: block fanout $b for $cells cells overflows the " +
        "childIdx slot field — widen the packing before a corpus this size")
    (g, b)
  }

  /** Child centroid (parent `g`, slot `i`): parent + bounded jitter.
    *
    * The jitter mixer is Spark's own XXH64 (seed 42 — exactly what the
    * builtin `xxhash64` computes over a long column), NOT the r11 LCG:
    * round 12 moved the probe-side child dots in-expression (so the
    * O(cells·dim) child matrix never rides a plan literal — see
    * [[childDots]]), and under ANSI mode a wrapping-multiply mixer
    * cannot be evaluated as a Column. XXH64 is the one full-avalanche
    * mixer with a public static JVM twin AND a builtin SQL surface, so
    * both sides compute the identical family with zero plan payload
    * (`IvfSpec` pins the parity). Child centroids exist only in the
    * hier regime — beyond every oracle SF — so no DuckDB oracle ever
    * replays this formula. */
  def childCentroid(g: Int, i: Int, dim: Int): IndexedSeq[Long] = {
    val p = centroid(g, dim)
    (0 until dim).map { k =>
      val h = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashLong(childIdx(g, i, k), 42L)
      math.max(-1000000L,
        math.min(1000000L, p(k) + math.floorMod(h, 200001L) - 100000L))
    }
  }

  /** Flattened (parent, slot, axis) index the jitter mixer hashes —
    * shared by the JVM and Column paths so they can never disagree.
    * g ≤ ⌈√cells⌉ ≤ 46341 (int cid domain) < 2²²'s headroom and slots
    * are < 2¹⁴, so the packing never collides or overflows. */
  private def childIdx(g: Long, i: Long, k: Long): Long =
    (g << 22) + (i << 8) + k

  /** Two-level assignment column: argmax over the G parent dots picks a
    * block, exact argmax over that block's ≤B children picks the cell.
    * Pure long arithmetic, deterministic (ties to the lowest index at
    * both levels), output ∈ [0, cells). The last parent's child count is
    * truncated so ids never exceed the cell count.
    *
    * Child dots route through [[childDots]]: the child-matrix literal up
    * to [[ChildLitMaxCells]] (cheapest per corpus row — this is the
    * n-row build hot path), the in-expression formula beyond it, so a
    * 25M-vector build crosses the literal boundary silently-correctly
    * instead of planting a ~100MB literal (or require-failing) there.
    *
    * The parent dots, the block and the child dots are each evaluated
    * once per row ([[TextOps.let1]]): the formula path reads the block
    * inside its per-(child, axis) lambda, and an unbound block there
    * re-ran the whole parent argmax ~B·dim times per row. */
  def assignHier(qv: Column, dim: Int, cells: Int): Column = {
    val (g, b) = hierGeometry(cells)
    val parents = typedLit((0 until g).map(j => centroid(j, dim): Seq[Long]))
    def dot(c: Column): Column =
      aggregate(zip_with(qv, c, (x, w) => x * w), lit(0L), (a, v) => a + v)
    TextOps.let1(argmax(transform(parents, dot(_))).cast("int")) { block =>
      (block * b + argmax(childDots(qv, block, dim, cells))).cast("int")
    }
  }

  /** 0-based position of the first maximum of array `a`, `a` evaluated
    * once. */
  private def argmax(a: Column): Column =
    TextOps.let1(a)(v => array_position(v, array_max(v)) - 1)

  /** TEST knob: force the two-level regime below [[HierarchyThreshold]]
    * so flat and hier can be compared head-to-head on the SAME corpus
    * (IvfSpec's recall comparison; the measured scale answers are in
    * `PROBE_r1[12]_hier*.json`). Private — every consumer scopes it
    * through [[withForceHier]], which restores the prior value on EVERY exit
    * path, so a stage build and its query-side probe/effCentroid reads
    * can never observe different regimes for the same corpus (the r11
    * ADVICE desync hazard of a bare global toggle). */
  @volatile private var forceHier: Boolean = false

  /** Run `f` with the forced-hier knob set to `on`, restoring the prior
    * value afterwards. The ONLY way to toggle the regime override. */
  def withForceHier[T](on: Boolean = true)(f: => T): T = {
    val prev = forceHier
    forceHier = on
    try f finally forceHier = prev
  }

  /** The quantizer regime for `cells`: flat (store all-cell dots,
    * argmax assignment) at and below the threshold — every oracle SF and
    * existing probe replica — two-level above it. One decision point
    * shared by the stage build, the query-side probe expansion, and the
    * effective-centroid lookup, so the stored `dl` column's meaning
    * (all-cell dots vs parent dots) can never disagree with its readers. */
  def isHier(cells: Int): Boolean = cells > HierarchyThreshold || forceHier

  /** Parent-level dot array for the two-level regime: the G = ⌈√cells⌉
    * prefix-family centroids. This is what the stage stores as `dl` above
    * the threshold — O(√cells) per row instead of the flat path's
    * O(cells). */
  def parentDots(qv: Column, dim: Int, cells: Int): Column =
    dots(qv, dim, hierGeometry(cells)._1)

  /** The EFFECTIVE centroid of cell `cid` under the regime for `cells`:
    * the prefix-family centroid when flat, the (parent, slot) child when
    * two-level — the vector sim9's drift audit (and any other
    * centroid-relative consumer) must measure against. */
  def effCentroid(cid: Int, dim: Int, cells: Int): IndexedSeq[Long] =
    if (!isHier(cells)) centroid(cid, dim)
    else {
      val (_, b) = hierGeometry(cells)
      childCentroid(cid / b, cid % b, dim)
    }

  /** [[effCentroid]] for every cid in [0, cells) — the regime-correct
    * replacement for [[matrix]] wherever a consumer indexes centroids by
    * the STAGE's cid column. Identical to [[matrix]] in the flat regime,
    * so fixture-scale plans (and their DuckDB oracles) are untouched. */
  def effMatrix(dim: Int, cells: Int): Seq[Seq[Long]] =
    (0 until cells).map(effCentroid(_, dim, cells): Seq[Long])

  /** Hard ceiling on the child-matrix PLAN LITERAL: 10⁵ cells × 64 axes
    * ≈ 50MB of literal longs is the most a build plan should ever carry
    * (≈25M vectors at the default list target). [[childDots]] switches
    * to the in-expression formula beyond it; [[childrenLit]] itself
    * require-fails loudly so no caller can plant a bigger literal. */
  val ChildLitMaxCells = 100000

  /** Child-centroid matrix literal, grouped by parent (element g = the
    * ≤B children of parent g; the last parent's list is truncated so the
    * flattened family has exactly `cells` members). O(cells·dim) longs as
    * a plan constant — the cheapest per-row evaluation for the n-row
    * BUILD side, and guarded by [[ChildLitMaxCells]]: past the boundary
    * callers must use [[childDotsFormula]] (the same family evaluated
    * per-axis in-expression, no literal at all). */
  private def childrenLit(dim: Int, cells: Int): Column = {
    require(cells <= ChildLitMaxCells,
      s"childrenLit: $cells cells would plant a ${cells.toLong * dim * 8 /
        (1 << 20)}MB child-matrix literal in the plan — use the " +
        "childDotsFormula path beyond ChildLitMaxCells")
    val (g, b) = hierGeometry(cells)
    typedLit((0 until g).map { gg =>
      val nKids = math.min(b, cells - gg * b)
      (0 until nKids).map(i => childCentroid(gg, i, dim): Seq[Long]): Seq[Seq[Long]]
    })
  }

  /** LITERAL-path child dot array for the block in column `blk`: element
    * i = ⟨qv, childCentroid(blk, i, ·)⟩, length = the block's (possibly
    * truncated) child count. Build-side evaluation under
    * [[ChildLitMaxCells]]; [[IvfSpec]] pins byte-equality with the
    * formula path. */
  private[graft] def childDotsLit(qv: Column, blk: Column, dim: Int,
                                  cells: Int): Column = {
    val kids = element_at(childrenLit(dim, cells), (blk + 1).cast("int"))
    transform(kids, c =>
      aggregate(zip_with(qv, c, (x, w) => x * w), lit(0L), (a, v) => a + v))
  }

  /** FORMULA-path child dot array — the same values as [[childDotsLit]]
    * with NO child-matrix literal: per axis k the child coordinate is
    * re-derived in-expression as clamp(parent(blk)[k] + jitter), jitter =
    * pmod(xxhash64(childIdx), 2·10⁵+1) − 10⁵ — exactly the JVM
    * [[childCentroid]] (XXH64 seed 42 is what the `xxhash64` builtin
    * computes over a long column; parity is spec-pinned). The only plan
    * constant is the O(√cells·dim) PARENT matrix. This is what the
    * query-side probe expansion always uses — query rows are few, so the
    * per-row formula overhead is noise, and the probe plan stays lean at
    * any cell count — and what the build uses beyond [[ChildLitMaxCells]].
    *
    * ANSI-safe by construction: every intermediate fits a long (xxhash64
    * replaces the wrapping-multiply mixer a splitmix evaluation would
    * need; |qv·axis| ≤ 5e12, 64-axis sums ≤ 3.2e14). */
  private[graft] def childDotsFormula(qv: Column, blk: Column, dim: Int,
                                      cells: Int): Column = {
    val (g, b) = hierGeometry(cells)
    val parents = typedLit((0 until g).map(j => centroid(j, dim): Seq[Long]))
    val prow = element_at(parents, (blk + 1).cast("int"))
    val blkL = blk.cast("long")
    val nKids = least(lit(b.toLong), lit(cells.toLong) - blkL * lit(b.toLong))
    transform(sequence(lit(0L), nKids - lit(1L)), i =>
      aggregate(
        transform(prow, (pk, k) => {
          val idx = shiftleft(blkL, 22) + shiftleft(i, 8) + k.cast("long")
          val jit = pmod(xxhash64(idx), lit(200001L)) - lit(100000L)
          element_at(qv, k + 1) *
            greatest(lit(-1000000L), least(lit(1000000L), pk + jit))
        }),
        lit(0L), (a, v) => a + v))
  }

  /** Build-side routing: literal under [[ChildLitMaxCells]] (cheapest on
    * the n-row hot path), formula beyond (no oversized literal, same
    * values). */
  private def childDots(qv: Column, blk: Column, dim: Int,
                        cells: Int): Column =
    if (cells <= ChildLitMaxCells) childDotsLit(qv, blk, dim, cells)
    else childDotsFormula(qv, blk, dim, cells)

  // ---------------------------------------------------------------------
  // Probe budgets — how much of the corpus a query expands
  // ---------------------------------------------------------------------

  /** Target fraction of the CORPUS a probe expands — the stated, bounded
    * query cost, constant in n. Both regimes derive their budgets from
    * this one number, so the probed share is continuous across the
    * regime seam (at 4096 cells flat expands 512 cells = 12.5%; at 4097
    * the two-level budget expands 23×23 cells = 12.9%) and recall stays
    * FLAT as cells grow ∝ n — r11's fixed P=4 probed a 1/n-shrinking
    * slice and measured recall 0.02 at 1.5M diverse vectors
    * (`PROBE_r11_hier_diverse.json`).
    *
    * The value is a point ON A MEASURED CURVE, not a recall guarantee:
    * on the direction-DIVERSE 1.5M corpus (the adversarial case — zero
    * cluster structure, so the quantizer has only co-direction to work
    * with) recall@10 is ≈0.70 mean at this share, 0.87 at 26%, 1.0 only
    * at full scan (`PROBE_r12_hier_sweep.json`); on the jittered-replica
    * (near-dup structured) corpus it is 1.0 at every measured share.
    * Real embedding corpora sit between the two; deployments pick their
    * own point via the `share` parameter of [[probeCells]]. Recall
    * exceeds share at every measured point (0.70 vs 0.125, 0.87 vs
    * 0.26), so the probe always beats random cell selection — but no
    * sub-linear IVF probe can promise high recall on structureless
    * data, and this engine states that instead of hiding it. */
  val TargetProbeShare = 0.125

  /** FLAT-regime probe budget: ⌈share·cells⌉ cells, floored at the
    * caller's `p`, capped at `cells`. At the [[C]]-cell oracle floor the
    * share term (⌈0.125·16⌉ = 2) sits under the P=4 floor, so every
    * oracle-verified plan keeps the exact historical P=4 expansion —
    * byte-stable by arithmetic, not by a special case. */
  def flatBudget(cells: Int, p: Int = P,
                 share: Double = TargetProbeShare): Int =
    math.min(cells, math.max(p, math.ceil(cells * share).toInt))

  /** Hier-regime probe budgets for `cells`: (parent blocks expanded,
    * child cells kept per block). Each level takes ⌈√share·fanout⌉ —
    * √share per level ⇒ ≈share of all cells — floored at the caller's
    * `p` and capped at the fanout. */
  def hierBudget(cells: Int, p: Int = P,
                 share: Double = TargetProbeShare): (Int, Int) = {
    val (g, b) = hierGeometry(cells)
    val f = math.sqrt(share)
    (math.min(g, math.max(p, math.ceil(g * f).toInt)),
      math.min(b, math.max(p, math.ceil(b * f).toInt)))
  }

  /** Column names [[probeCells]] reserves for its own working state —
    * an input carrying any of them would be silently clobbered or would
    * corrupt the window ranking, so the helper rejects them loudly. */
  private val ProbeInternalCols =
    Seq("cid", "__pos", "__pd", "__blk", "__i", "__kd", "__rn")

  /** Regime-aware probe expansion: explode each query row into its probe
    * CELLS (the inverted lists a search then scores exactly). Input must
    * carry the stage's `dl` column (flat: all-cell dots; hier: parent
    * dots) plus — in the hier regime — the quantized vector `qv`; every
    * other column is carried through unchanged, `dl` is dropped, and an
    * int `cid` column is added (one output row per probed cell). `qid`
    * names the query-key column the per-query rank partitions by.
    *
    * FLAT: rank the stored dots, take the top [[flatBudget]] cells —
    * exactly the inline posexplode/row_number plan the sim family always
    * ran, with the budget = p = [[P]] at the [[C]]-cell oracle floor
    * (byte-stable everywhere the oracles look) and scaling as
    * ⌈share·cells⌉ in the grown-flat band above it (a fixed count over
    * growing cells would shrink the probed share toward zero well before
    * the hier threshold).
    *
    * HIER: [[hierBudget]] gives (bP, c): rank the stored parent dots,
    * expand the bP best blocks, formula-dot their children
    * ([[childDotsFormula]] — no child-matrix literal in the plan), and
    * keep the top `c` cells PER BLOCK (ties to the lowest id at both
    * levels). Two deliberate choices, both forced by the r11 recall
    * collapse (mean 0.02 at 1.5M diverse vectors,
    * `PROBE_r11_hier_diverse.json`):
    *  - the budget is a FRACTION of each level's fanout, not a constant:
    *    √share·G blocks × √share·B cells holds the probed corpus share
    *    at ≈`share` regardless of n — recall stays on the measured
    *    curve, query cost stays a stated, bounded corpus share.
    *  - the per-cell keep is PER BLOCK, not a global rank: a child dot is
    *    its parent dot ± the 10% jitter term, so a global rank over
    *    expanded children collapses back to the parent rank and
    *    re-concentrates the whole budget on the best one or two parents —
    *    exactly the fixed-P failure with extra steps. Per-block keeps the
    *    parent diversity the block expansion paid for.
    * Probe cost rides the tiny query side in both regimes: per query row
    * bP·B = O(√share·cells) formula dots, and downstream each kept cell
    * scores one ≈[[TargetCellSize]] inverted list. */
  def probeCells(q: DataFrame, qid: String, dim: Int, cells: Int,
                 p: Int = P,
                 share: Double = TargetProbeShare): DataFrame = {
    val clash = q.columns.filter(ProbeInternalCols.contains)
    require(clash.isEmpty,
      s"probeCells reserves ${clash.mkString(", ")} as working/output " +
        "columns; drop or rename them on the input")
    val keep = q.columns.filterNot(_ == "dl").map(col)
    if (!isHier(cells)) {
      val w = Window.partitionBy(qid)
        .orderBy(col("__pd").desc, col("__pos").asc)
      q.select(keep :+ posexplode(col("dl")).as(Seq("__pos", "__pd")): _*)
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= flatBudget(cells, p, share))
        .select(keep :+ col("__pos").as("cid"): _*)
    } else {
      val (_, b) = hierGeometry(cells)
      val (bP, c) = hierBudget(cells, p, share)
      val wP = Window.partitionBy(qid)
        .orderBy(col("__pd").desc, col("__blk").asc)
      val blocks = q
        .select(keep :+ posexplode(col("dl")).as(Seq("__blk", "__pd")): _*)
        .withColumn("__rn", row_number().over(wP))
        .filter(col("__rn") <= bP)
        .select(keep :+ col("__blk"): _*)
      val kd = blocks.select((keep :+ col("__blk")) :+
        posexplode(childDotsFormula(col("qv"), col("__blk"), dim, cells))
          .as(Seq("__i", "__kd")): _*)
      val wK = Window.partitionBy(col(qid), col("__blk"))
        .orderBy(col("__kd").desc, col("__i").asc)
      kd.withColumn("__rn", row_number().over(wK))
        .filter(col("__rn") <= c)
        .withColumn("cid", (col("__blk") * b + col("__i")).cast("int"))
        .select(keep :+ col("cid"): _*)
    }
  }
}

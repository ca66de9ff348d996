package graft.functions

import scala.collection.mutable.ArrayBuffer
import scala.reflect.ClassTag

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** The buffer the fused trainer aggregates (tree_fit3 / gbt_fit4 /
  * logit_fit4 / forest_fit8) share: a multiset of fixed-width bigint
  * cells, one per input row, the cell width being the argument count.
  * Each trainer receives an already map-side-combined grid, so the state
  * is groups-sized and its `eval` replays the whole fit on it; a trainer
  * keeps only its output type, its name and that `eval`.
  *
  *  - a row with a null argument is dropped;
  *  - `merge` concatenates, and the codec is `4 + n·width·8` bytes (the
  *    cell count, then every cell's longs);
  *  - the type check rejects any arity other than `columns` and any
  *    non-bigint argument, naming the function and its expected columns.
  *
  * Determinism is by construction: the state is a cell multiset and
  * every `eval` iterates sorted maps, so partial-buffer arrival order
  * cannot matter (FitAggregatesSpec drives each trainer through several
  * physical layouts).
  */
abstract class CellAggregate(columns: String*)
    extends TypedImperativeAggregate[ArrayBuffer[Array[Long]]]
    with Serializable {
  // Serializable because Java deserialization needs a no-arg constructor
  // on the first non-serializable superclass, and this one takes `columns`

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.length == columns.length &&
        children.forall(_.dataType == LongType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects ${columns.length} bigint columns " +
        s"(${columns.mkString(", ")}), got " +
        children.map(_.dataType.simpleString).mkString(", "))

  override def nullable: Boolean = false

  override def createAggregationBuffer(): ArrayBuffer[Array[Long]] =
    ArrayBuffer.empty

  override def update(buf: ArrayBuffer[Array[Long]],
                      input: InternalRow): ArrayBuffer[Array[Long]] = {
    val cell = new Array[Long](children.length)
    var i = 0
    while (i < cell.length) {
      val v = children(i).eval(input)
      if (v == null) return buf
      cell(i) = v.asInstanceOf[Long]
      i += 1
    }
    buf += cell
  }

  override def merge(buf: ArrayBuffer[Array[Long]],
                     other: ArrayBuffer[Array[Long]]): ArrayBuffer[Array[Long]] =
    buf ++= other

  override def serialize(buf: ArrayBuffer[Array[Long]]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + buf.length * children.length * 8)
    bb.putInt(buf.length)
    buf.foreach(c => c.foreach(bb.putLong))
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): ArrayBuffer[Array[Long]] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    ArrayBuffer.fill(bb.getInt)(Array.fill(children.length)(bb.getLong))
  }
}

/** The pieces of `eval` that more than one trainer replays. */
object CellAggregate {

  /** One `injectFunction` description. The builder takes any arity, so
    * a wrong one reaches the type check and fails there by name. */
  def function[T <: CellAggregate: ClassTag](
      name: String, make: Seq[Expression] => T)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name),
      new ExpressionInfo(implicitly[ClassTag[T]].runtimeClass.getName, name),
      make)

  /** The projection chain's gini surrogate, identical cast order:
    * n − (p·p + (n−p)·(n−p)) / n with exact-long products. */
  def half(n: Long, p: Long): Double =
    n.toDouble - ((p * p).toDouble + ((n - p) * (n - p)).toDouble) /
      n.toDouble

  /** Adds (a, b) to the two-long slot at `key`. */
  def bump[K](hist: java.util.TreeMap[K, Array[Long]])(
      key: K, a: Long, b: Long): Unit = {
    val slot = hist.computeIfAbsent(key, _ => Array(0L, 0L))
    slot(0) += a; slot(1) += b
  }

  /** Tie-correct AUC over a score histogram of (pos, neg) slots:
    * ascending-key rank-sum pos·(2·cumneg + neg) in exact longs, null
    * when a class is empty (the oracle's NULLIF contract). */
  def auc(hist: java.util.TreeMap[_, Array[Long]]): Any = {
    var cumneg = 0L; var num2 = 0L; var np = 0L; var nn = 0L
    val it = hist.values().iterator()
    while (it.hasNext) {
      val slot = it.next()
      num2 += slot(0) * (2L * cumneg + slot(1))
      np += slot(0); nn += slot(1)
      cumneg += slot(1)
    }
    if (2L * np * nn == 0L) null
    else num2.toDouble / (2L * np * nn).toDouble
  }

  /** [[auc]] of per-cell scores over (x1, x2, n, yc) cells: cell i holds
    * yc positives and n − yc negatives at `score(i)`, keyed `+ 0.0` (the
    * −0.0 fold both engines apply). */
  def cellAuc(cells: Array[Array[Long]], score: Int => Double): Any = {
    val hist = new java.util.TreeMap[java.lang.Double, Array[Long]]()
    for (i <- cells.indices)
      bump(hist)(score(i) + 0.0, cells(i)(3), cells(i)(2) - cells(i)(3))
    auc(hist)
  }

  /** The per-feature split scan: histograms (a, b) over `idxs` by
    * `value`, then visits every candidate threshold v < vmax in
    * ascending order as `visit(v, aLeft, bLeft, aTotal, bTotal)`, with
    * exact-long prefix sums. The caller owns the score, the candidate
    * filter and the tie-break. */
  def scanSplits(idxs: Iterable[Int], value: Int => Long,
                 a: Int => Long, b: Int => Long)(
      visit: (Long, Long, Long, Long, Long) => Unit): Unit = {
    val hist = new java.util.TreeMap[java.lang.Long, Array[Long]]()
    var at = 0L; var bt = 0L
    for (i <- idxs) {
      bump(hist)(value(i), a(i), b(i))
      at += a(i); bt += b(i)
    }
    if (hist.size > 1) {
      val vmax: Long = hist.lastKey()
      var al = 0L; var bl = 0L
      val it = hist.entrySet().iterator()
      while (it.hasNext) {
        val en = it.next()
        val v: Long = en.getKey
        al += en.getValue()(0); bl += en.getValue()(1)
        if (v < vmax) visit(v, al, bl, at, bt)
      }
    }
  }
}

/** `tree_fit3(x1, x2, n, yc)` — the depth-3 histogram-split gini tree
  * (mlprep_tree's / mlprep_importance's shared search) as ONE typed
  * aggregate per group.
  *
  * The DataFrame formulation ran three level rounds of
  * histogram-aggregate → two cumulative windows → row_number pick →
  * broadcast re-route — ~a dozen tiny stages whose scheduling and
  * per-invocation planning dominated the rows' wall time (the round-9
  * 10× probe ran both queries flat — constants, not data). This
  * aggregate receives the SAME ≤168-cell grid rows (the one data-sized
  * pass is still the grid build, map-side combined) and computes the
  * whole tree in `eval` on the groups-sized state — two exec stages
  * total, nothing else.
  *
  * Parity contract (TrainerNative doctrine): `eval` replays the exact
  * IEEE operation sequence of the projection formulation — per-node
  * per-feature value histograms from exact-long cumulative sums, the
  * gini surrogate [[CellAggregate.half]] evaluated in the identical cast
  * order, candidate pick by (score, feat, thr) ascending with
  * `java.lang.Double.compare` (Spark's double ordering; scores are
  * ≥ +0.0 by construction so the −0.0/NaN edge never appears), a node
  * with no valid candidate left unsplit routing left (node·2), and ids
  * doubling from root 0. Every iteration runs in sorted (node, feat,
  * value) order. The DuckDB oracles keep their unrolled level CTEs;
  * unchanged hashes prove the identity (plus the spec's brute-forced
  * root split).
  *
  * Output: array of (level, node, feat, thr, n, pos, score) — split
  * rows for levels 0–2 (score = the winning candidate's impurity sum,
  * for the MDI importance numerator), leaf rows at level 3 with
  * feat/thr/score null.
  */
case class TreeFit3(
    children: Seq[Expression],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends CellAggregate("x1", "x2", "n", "yc") {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("level", LongType, nullable = false),
    StructField("node", LongType, nullable = false),
    StructField("feat", LongType, nullable = true),
    StructField("thr", LongType, nullable = true),
    StructField("n", LongType, nullable = false),
    StructField("pos", LongType, nullable = false),
    StructField("score", DoubleType, nullable = true))),
    containsNull = false)
  override def prettyName: String = "tree_fit3"

  override def eval(buf: ArrayBuffer[Array[Long]]): Any = {
    import CellAggregate.half
    // (cellIdx -> node); cells are (x1, x2, n, yc)
    val cells = buf.toArray
    val node = Array.fill(cells.length)(0L)
    val out = ArrayBuffer.empty[InternalRow]
    for (lvl <- 0 until 3) {
      val byNode = cells.indices.groupBy(node(_))
      for (nd <- byNode.keys.toSeq.sorted) {
        val idxs = byNode(nd)
        // best candidate over both features: (score, feat, thr) asc
        var bScore = 0.0; var bFeat = 0L; var bThr = 0L
        var bNtot = 0L; var bPostot = 0L; var found = false
        for (feat <- 1 to 2)
          CellAggregate.scanSplits(idxs, i => cells(i)(feat - 1),
              i => cells(i)(2), i => cells(i)(3)) {
            (v, nl, posl, ntot, postot) =>
              val nr = ntot - nl; val posr = postot - posl
              val score = half(nl, posl) + half(nr, posr)
              val better = !found || {
                val c0 = java.lang.Double.compare(score, bScore)
                c0 < 0 || (c0 == 0 && (feat < bFeat ||
                  (feat == bFeat && v < bThr)))
              }
              if (better) {
                found = true; bScore = score; bFeat = feat.toLong
                bThr = v; bNtot = ntot; bPostot = postot
              }
          }
        if (found) {
          out += InternalRow(lvl.toLong, nd, bFeat, bThr, bNtot, bPostot,
            bScore)
          for (i <- idxs) {
            val v = if (bFeat == 1L) cells(i)(0) else cells(i)(1)
            node(i) = if (v <= bThr) nd * 2 else nd * 2 + 1
          }
        } else {
          // no valid candidate: stay unsplit, route left (ids aligned)
          for (i <- idxs) node(i) = nd * 2
        }
      }
    }
    val leaves = cells.indices.groupBy(node(_))
    for (nd <- leaves.keys.toSeq.sorted) {
      var n = 0L; var pos = 0L
      for (i <- leaves(nd)) { n += cells(i)(2); pos += cells(i)(3) }
      out += InternalRow(3L, nd, null, null, n, pos, null)
    }
    new GenericArrayData(out.toArray[Any])
  }

  override def withNewMutableAggBufferOffset(n: Int): TreeFit3 =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): TreeFit3 =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TreeFit3 =
    copy(children = newChildren)
}

/** `gbt_fit4(x1, x2, n, yc)` — mlprep_gbt's four Newton boosting rounds
  * of depth-1 stumps (logistic loss, XGBoost split algebra, η=.5, λ=1)
  * as ONE typed aggregate per group — the tree_fit3 doctrine applied to
  * the board's remaining top row. The DataFrame formulation ran, per
  * round, a sigmoid projection + histogram aggregate + cumulative
  * windows + row_number pick + broadcast f-update + per-round persist +
  * the tie-correct AUC windows — 4× that chain per invocation, with
  * Catalyst planning and stage dispatch dominating (the 10× probe ran
  * gbt flat). Here the one data-sized pass is still the grid build;
  * `eval` replays all four rounds on the ≤168-cells-per-group state.
  *
  * Parity contract (bit-exact replay of the projection formulation,
  * whose unrolled CTEs the DuckDB oracle still runs):
  *  - p = sigmoid_r16(f) (TrainerNative.sigmoidR16 — the identical
  *    16-squaring sequence), gq/hq floor-quantized to the 1e-9 grid
  *    exactly as the column expressions cast them;
  *  - per-feature value histograms summed as exact longs, candidates at
  *    v < vmax, gain/dl/dr through the identical double tree
  *    (sums-over-1e9 casts first, λ=1 denominators);
  *  - winner by (gain DESC, feat ASC, thr ASC) with
  *    `java.lang.Double.compare`, first-wins on exact ties;
  *  - f update f + 0.5·(dl|dr) per routed cell; a round with no valid
  *    candidate leaves f unchanged and emits no row (the left-join +
  *    inner-join shape of the original);
  *  - tie-correct AUC ([[CellAggregate.cellAuc]]) over the score f.
  *
  * Output: array of (round, feat, thr, delta_l_q, delta_r_q, gain_q,
  * auc_train) — one row per round that found a split.
  */
case class GbtFit4(
    children: Seq[Expression],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends CellAggregate("x1", "x2", "n", "yc") {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("round", LongType, nullable = false),
    StructField("feat", LongType, nullable = false),
    StructField("thr", LongType, nullable = false),
    StructField("delta_l_q", LongType, nullable = false),
    StructField("delta_r_q", LongType, nullable = false),
    StructField("gain_q", LongType, nullable = false),
    StructField("auc_train", DoubleType, nullable = true))),
    containsNull = false)
  override def prettyName: String = "gbt_fit4"

  override def eval(buf: ArrayBuffer[Array[Long]]): Any = {
    val cells = buf.toArray
    val len = cells.length
    val f = new Array[Double](len) // init 0.0 — the fc0 seed
    val out = ArrayBuffer.empty[InternalRow]
    for (k <- 0 until 4) {
      // per-cell gradient/hessian on the 1e-9 integer grid, the exact
      // column-expression cast order
      val gq = new Array[Long](len)
      val hq = new Array[Long](len)
      var i = 0
      while (i < len) {
        val p = TrainerNative.sigmoidR16(f(i))
        val n = cells(i)(2); val yc = cells(i)(3)
        gq(i) = n * math.floor(p * 1e9).toLong - yc * 1000000000L
        hq(i) = math.floor(((n.toDouble * p) * (1.0 - p)) * 1e9).toLong
        i += 1
      }
      var found = false
      var bGain = 0.0; var bFeat = 0L; var bThr = 0L
      var bDl = 0.0; var bDr = 0.0
      for (feat <- 1 to 2)
        CellAggregate.scanSplits(0 until len,
            j => if (feat == 1) cells(j)(0) else cells(j)(1),
            gq(_), hq(_)) {
          (v, sgl, shl, sgt, sht) =>
            val gl = sgl.toDouble / 1e9; val hl = shl.toDouble / 1e9
            val gr = (sgt - sgl).toDouble / 1e9
            val hr = (sht - shl).toDouble / 1e9
            val gt = sgt.toDouble / 1e9; val ht = sht.toDouble / 1e9
            val gain = gl * gl / (hl + 1.0) + gr * gr / (hr + 1.0) -
              gt * gt / (ht + 1.0)
            val better = !found || {
              val c0 = java.lang.Double.compare(gain, bGain)
              c0 > 0 || (c0 == 0 && (feat < bFeat ||
                (feat == bFeat && v < bThr)))
            }
            if (better) {
              found = true; bGain = gain; bFeat = feat.toLong; bThr = v
              bDl = -gl / (hl + 1.0); bDr = -gr / (hr + 1.0)
            }
        }
      if (found) {
        var j = 0
        while (j < len) {
          val v = if (bFeat == 1L) cells(j)(0) else cells(j)(1)
          f(j) = f(j) + (if (v <= bThr) 0.5 * bDl else 0.5 * bDr)
          j += 1
        }
        out += InternalRow(k.toLong, bFeat, bThr,
          math.floor(bDl * 1e9 + 0.5).toLong,
          math.floor(bDr * 1e9 + 0.5).toLong,
          math.floor(bGain * 1e6 + 0.5).toLong,
          CellAggregate.cellAuc(cells, f(_)))
      }
      // no candidate: f unchanged, no output row (the original's
      // left-join null branch + inner output join)
    }
    new GenericArrayData(out.toArray[Any])
  }

  override def withNewMutableAggBufferOffset(n: Int): GbtFit4 =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): GbtFit4 =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): GbtFit4 =
    copy(children = newChildren)
}

/** `logit_fit4(x1, x2, n, yc)` — mlprep_logit's four IRLS/Newton steps +
  * tie-correct train AUC as ONE typed aggregate per group (the
  * tree_fit3/gbt_fit4 doctrine). Each step replays the projection
  * formulation's exact IEEE sequence: p = sigmoid_r16(z) with
  * z = (c0 + c1·x1) + c2·x2, p and n·p·(1−p) floor-quantized to the
  * 1e-9 grid, the nine Newton moments summed as exact longs, the 3×3
  * Cramer solve through the identical det3 double tree, β' = β + d/det.
  * The AUC ([[CellAggregate.cellAuc]]) histograms the final scores z.
  * Moment sums are order-free longs. The DuckDB oracle keeps its
  * unrolled CTE chain; unchanged hashes prove the identity.
  *
  * Output: struct(n, b0_q, b1_q, b2_q, auc_train) — one row per group.
  */
case class LogitFit4(
    children: Seq[Expression],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends CellAggregate("x1", "x2", "n", "yc") {

  override def dataType: DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("b0_q", LongType, nullable = false),
    StructField("b1_q", LongType, nullable = false),
    StructField("b2_q", LongType, nullable = false),
    StructField("auc_train", DoubleType, nullable = true)))
  override def prettyName: String = "logit_fit4"

  override def eval(buf: ArrayBuffer[Array[Long]]): Any = {
    // det3 in the projection tree's exact operation order
    def det3(a1: Double, a2: Double, a3: Double,
             b1: Double, b2: Double, b3: Double,
             c1: Double, c2: Double, c3: Double): Double =
      a1 * (b2 * c3 - b3 * c2) -
      a2 * (b1 * c3 - b3 * c1) +
      a3 * (b1 * c2 - b2 * c1)
    val cells = buf.toArray
    val len = cells.length
    var c0 = 0.0; var c1 = 0.0; var c2 = 0.0
    for (_ <- 0 until 4) {
      var ig0 = 0L; var ig1 = 0L; var ig2 = 0L
      var ih00 = 0L; var ih01 = 0L; var ih02 = 0L
      var ih11 = 0L; var ih12 = 0L; var ih22 = 0L
      var i = 0
      while (i < len) {
        val x1 = cells(i)(0); val x2 = cells(i)(1)
        val n = cells(i)(2); val yc = cells(i)(3)
        val z = (c0 + c1 * x1.toDouble) + c2 * x2.toDouble
        val p = TrainerNative.sigmoidR16(z)
        val pq = math.floor(p * 1e9).toLong
        val wq = math.floor(((n.toDouble * p) * (1.0 - p)) * 1e9).toLong
        val gterm = yc * 1000000000L - n * pq
        ig0 += gterm; ig1 += x1 * gterm; ig2 += x2 * gterm
        ih00 += wq; ih01 += wq * x1; ih02 += wq * x2
        ih11 += wq * x1 * x1; ih12 += wq * x1 * x2; ih22 += wq * x2 * x2
        i += 1
      }
      def u(l: Long): Double = l.toDouble / 1e9
      val (g0, g1, g2) = (u(ig0), u(ig1), u(ig2))
      val (h00, h01, h02) = (u(ih00), u(ih01), u(ih02))
      val (h11, h12, h22) = (u(ih11), u(ih12), u(ih22))
      val det = det3(h00, h01, h02, h01, h11, h12, h02, h12, h22)
      val d0 = det3(g0, h01, h02, g1, h11, h12, g2, h12, h22)
      val d1 = det3(h00, g0, h02, h01, g1, h12, h02, g2, h22)
      val d2 = det3(h00, h01, g0, h01, h11, g1, h02, h12, g2)
      c0 = c0 + d0 / det
      c1 = c1 + d1 / det
      c2 = c2 + d2 / det
    }
    // tie-correct train AUC over the final-score histogram
    val auc = CellAggregate.cellAuc(cells,
      i => (c0 + c1 * cells(i)(0).toDouble) + c2 * cells(i)(1).toDouble)
    InternalRow(cells.iterator.map(_(2)).sum,
      math.floor(c0 * 1e9 + 0.5).toLong,
      math.floor(c1 * 1e9 + 0.5).toLong,
      math.floor(c2 * 1e9 + 0.5).toLong, auc)
  }

  override def withNewMutableAggBufferOffset(n: Int): LogitFit4 =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): LogitFit4 =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): LogitFit4 =
    copy(children = newChildren)
}

/** `forest_fit8(tree, feat, x1, x2, wn, wy, c0, p0, cnt, cy)` —
  * mlprep_forest's post-grid machinery (per-tree weighted stump search,
  * per-tree OOB AUC, exact ensemble AUC) as ONE typed aggregate per
  * group, completing the trainer fusion family (tree_fit3 / gbt_fit4 /
  * logit_fit4). The data-sized work is unchanged: the 8-way bagged
  * fan-out and the deterministic hash bootstrap stay in the grid build
  * (one map-side-combined scan); this aggregate receives the 8×-grid
  * HISTOGRAM rows and replays, in sorted order:
  *  - per tree (mtry=1 — `feat` rides in as a grid column): the value
  *    histogram of in-bag weighted counts, candidates at v < vmax with
  *    both split sides in-bag non-empty, gini surrogate through the
  *    identical double tree, winner by (score, thr) ascending;
  *  - leaf rates floor-quantized exactly as the column expression
  *    (`floor(p/n · 1e9)`, no rounding offset);
  *  - per-tree OOB AUC over the w=0 counts and the group ensemble AUC
  *    over the exact integer sum of quantized leaf predictions — both
  *    via the tie-correct [[CellAggregate.auc]];
  *  - a tree with no valid candidate emits no row and contributes
  *    nothing to the ensemble (the original's inner joins).
  * The DuckDB oracle keeps its unrolled CTEs; unchanged hashes prove
  * the identity.
  *
  * Output: array of (tree, feat, thr, wn_inbag, wpos_inbag, pred_l_q,
  * pred_r_q, oob_auc, ens_auc) — one row per tree that split.
  */
case class ForestFit8(
    children: Seq[Expression],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends CellAggregate(
      "tree", "feat", "x1", "x2", "wn", "wy", "c0", "p0", "cnt", "cy") {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("tree", LongType, nullable = false),
    StructField("feat", LongType, nullable = false),
    StructField("thr", LongType, nullable = false),
    StructField("wn_inbag", LongType, nullable = false),
    StructField("wpos_inbag", LongType, nullable = false),
    StructField("pred_l_q", LongType, nullable = false),
    StructField("pred_r_q", LongType, nullable = false),
    StructField("oob_auc", DoubleType, nullable = true),
    StructField("ens_auc", DoubleType, nullable = true))),
    containsNull = false)
  override def prettyName: String = "forest_fit8"

  override def eval(buf: ArrayBuffer[Array[Long]]): Any = {
    import CellAggregate.{auc, bump, half}
    // cell fields: 0=tree 1=feat 2=x1 3=x2 4=wn 5=wy 6=c0 7=p0 8=cnt 9=cy
    val cells = buf.toArray
    val byTree = cells.indices.groupBy(i => cells(i)(0))
    // per-tree pick: tree -> (feat, thr, ntot, postot, predLq, predRq)
    val picks = ArrayBuffer.empty[(Long, Long, Long, Long, Long, Long, Long, Any)]
    // the ensemble's base counts come from the tree=0 grid slice
    // UNCONDITIONALLY (the original joins base regardless of whether
    // tree 0 itself split); cell sets are identical across trees
    val cellOrd: Ordering[(Long, Long)] =
      Ordering.Tuple2(Ordering.Long, Ordering.Long)
    val base = new java.util.TreeMap[(Long, Long), Array[Long]](cellOrd)
    for (i <- byTree.getOrElse(0L, Seq.empty))
      base.put((cells(i)(2), cells(i)(3)), Array(cells(i)(8), cells(i)(9)))
    // ensemble accumulation: (x1, x2) -> sum of quantized leaf preds
    val ensQ = new java.util.TreeMap[(Long, Long), Array[Long]](cellOrd)
    for (tree <- byTree.keys.toSeq.sorted) {
      val idxs = byTree(tree)
      val feat = cells(idxs.head)(1)
      var found = false
      var bScore = 0.0; var bThr = 0L
      var bNtot = 0L; var bPostot = 0L
      var bPredL = 0L; var bPredR = 0L
      CellAggregate.scanSplits(idxs,
          i => if (feat == 1L) cells(i)(2) else cells(i)(3),
          i => cells(i)(4), i => cells(i)(5)) {
        (v, nl, posl, ntot, postot) =>
          // zero-in-bag split sides are excluded (nl > 0 and nr > 0)
          if (nl > 0L && ntot - nl > 0L) {
            val nr = ntot - nl; val posr = postot - posl
            val score = half(nl, posl) + half(nr, posr)
            val better = !found || {
              val c0 = java.lang.Double.compare(score, bScore)
              c0 < 0 || (c0 == 0 && v < bThr)
            }
            if (better) {
              found = true; bScore = score; bThr = v
              bNtot = ntot; bPostot = postot
              // rate9: floor(p / n · 1e9), the column expression's order
              bPredL = math.floor(posl.toDouble / nl.toDouble * 1e9).toLong
              bPredR = math.floor(posr.toDouble / nr.toDouble * 1e9).toLong
            }
          }
      }
      if (found) {
        // per-tree OOB AUC over the w=0 counts, histogrammed by score_q
        val oobHist = new java.util.TreeMap[java.lang.Long, Array[Long]]()
        for (i <- idxs) {
          val v = if (feat == 1L) cells(i)(2) else cells(i)(3)
          val sq = if (v <= bThr) bPredL else bPredR
          // (pos, neg) = (p0, c0 - p0)
          bump(oobHist)(sq, cells(i)(7), cells(i)(6) - cells(i)(7))
          // ensemble: exact integer sum of quantized predictions
          val key = (cells(i)(2), cells(i)(3))
          val e = ensQ.computeIfAbsent(key, _ => Array(0L))
          e(0) += sq
        }
        picks += ((tree, feat, bThr, bNtot, bPostot, bPredL, bPredR,
          auc(oobHist)))
      }
    }
    if (picks.isEmpty) return new GenericArrayData(Array.empty[Any])
    // group-level ensemble AUC: join the ens_q cells to the tree-0 base
    // counts, histogram by ens_q
    val ensHist = new java.util.TreeMap[java.lang.Long, Array[Long]]()
    val eit = ensQ.entrySet().iterator()
    while (eit.hasNext) {
      val en = eit.next()
      val b = base.get(en.getKey)
      // (pos, neg) = (cy, cnt - cy)
      if (b != null) bump(ensHist)(en.getValue()(0), b(1), b(0) - b(1))
    }
    val ensAuc = auc(ensHist)
    new GenericArrayData(picks.map { case (t, fe, th, n, p, pl, pr, oob) =>
      InternalRow(t, fe, th, n, p, pl, pr, oob, ensAuc)
    }.toArray[Any])
  }

  override def withNewMutableAggBufferOffset(n: Int): ForestFit8 =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): ForestFit8 =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ForestFit8 =
    copy(children = newChildren)
}

package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute,
  Expression, IntegerLiteral, LessThanOrEqual, RowNumber, SortOrder,
  UnsafeProjection, UnsafeRow, WindowExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan,
  Project, UnaryNode, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution,
  Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.expressions.{Window => WindowApi}
import org.apache.spark.sql.functions.{col, row_number}

/** Whole-operator Spark extension: exact top-k rows PER GROUP as a custom
  * physical operator, demonstrating the full engine-extension ladder the
  * expression injections ([[graft.functions.GraftExtensions]]) and the
  * optimizer-rule rewrite ([[MvRegistry]]) do not reach — a custom
  * `LogicalPlan` node ([[GroupTopKPlan]]), introduced by an injected
  * `Rule[LogicalPlan]` ([[GroupTopKRewrite]]), planned by an injected
  * `SparkStrategy` ([[GroupTopKStrategy]]) into a custom `SparkPlan`
  * ([[GroupTopKExec]]).
  *
  * Why an operator and not a composition: the declarative form — filter on
  * `row_number() OVER (PARTITION BY g ORDER BY o)` — executes as WindowExec,
  * which SORTS every partition end to end (Spark's own
  * InferWindowGroupLimit bounds the rows ENTERING that sort to k per group
  * per partition, but the Sort + Window machinery still runs). The
  * group-top-k answer needs no sort at all: a bounded heap per group holds
  * the best k rows seen so far, O(n log k) comparisons, O(groups × k)
  * memory, zero spill pressure. At 100 TB the difference is a full
  * shuffle-then-sort of every row versus map-side pruning to ≤ k rows per
  * (group, input partition) BEFORE the exchange — the same partial/final
  * shape as a hash aggregate, with the shuffle carrying at most
  * k × groups × partitions rows instead of everything.
  *
  * Safety model (the [[MvRegistry]] opt-in doctrine): the rewrite only
  * fires on the exact marker shape [[GroupTopK.topK]] emits — a projection
  * that DROPS a rank column named [[GroupTopK.Marker]], over a `<= k`
  * filter on it, over a single-expression `row_number` window. Rank
  * semantics make the replacement exact: row_number admits exactly k rows
  * per group under ANY total order, and callers supply a full tiebreak
  * (the house limit rule), making the SET of survivors deterministic.
  * Anything else — rank()/dense_rank() (ties overflow k), the rank column
  * kept in the output, a different comparison — does not match and keeps
  * the stock window plan.
  */
object GroupTopK {
  /** Reserved rank-column name that opts a plan into the rewrite. */
  val Marker = "__graft_group_topk_rn"

  /** Top-k rows per group. `order` must carry a full deterministic
    * tiebreak (end with a unique key); `group` and `order` must be
    * column references or deterministic expressions over `df`.
    */
  def topK(df: DataFrame, k: Int, group: Seq[Column], order: Seq[Column])
      : DataFrame = {
    require(k >= 1, s"group top-k needs k >= 1, got $k")
    val w = WindowApi.partitionBy(group: _*).orderBy(order: _*)
    df.withColumn(Marker, row_number().over(w))
      .filter(col(Marker) <= k)
      .drop(Marker)
  }
}

/** Logical: top-k rows per group of `child`, k per distinct value of
  * `groupExprs`, "top" = first under `order`. Output schema is exactly the
  * child's — the rank is never materialized.
  */
case class GroupTopKPlan(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan)
      : GroupTopKPlan = copy(child = newChild)
}

/** Injected optimizer rule: rewrites the opt-in marker shape
  * (drop-projection ▸ `rn <= k` filter ▸ row_number window) into
  * [[GroupTopKPlan]]. Runs inside the operator-optimization fixed-point
  * batch, so it sees the shape after CollapseProject has canonicalized
  * the helper's plan; idempotent because the marker is consumed. If
  * Spark's own InferWindowGroupLimit got there first (rule-order
  * insurance — today user rules run earlier), the WindowGroupLimit it
  * inserted below the Window is discarded along with the Window.
  */
object GroupTopKRewrite extends Rule[LogicalPlan] {

  // This rule runs inside the fixed-point operator-optimization batch of
  // EVERY query in the session, so it must be near-free when it cannot
  // apply: the tree-pattern gate skips whole plans without a Window via
  // one cached bitmask test (the same pruning discipline Spark's own
  // rules use), and transformUpWithPruning skips every subtree without
  // one.
  //
  // Only the reserved marker opts in. Firing on ANY dropped row_number
  // rank would also be exact, but the round-9 soak
  // (`BENCH_r09_grouptopk_soak.json`) ran the 13 affected rows ~1.23×
  // SLOWER at fixture scale: the partial/final heap pair breaks
  // whole-stage codegen, and a codegen'd sort-based window wins while
  // the per-group data fits memory. The heap's O(groups×k) bound pays
  // off when it does not (huge groups × small k), which is when a caller
  // opts in via `topK()`.
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithPruning(
      _.containsPattern(org.apache.spark.sql.catalyst.trees.TreePattern.WINDOW)) {
    case Project(projectList,
        Filter(LessThanOrEqual(rn: Attribute, IntegerLiteral(k)),
          w @ Window(Seq(Alias(WindowExpression(_: RowNumber, _), name)), _,
            _, _, _)))
        if name == GroupTopK.Marker && k >= 1 &&
          w.windowOutputSet.contains(rn) &&
          projectList.forall(ne => !ne.references.contains(rn)) =>
      val input = w.child match {
        // discard a WindowGroupLimit Spark inferred below the window —
        // the heap operator subsumes it
        case WindowGroupLimit(_, _, _, _, grandChild) => grandChild
        case other => other
      }
      Project(projectList,
        GroupTopKPlan(w.partitionSpec, w.orderSpec, k, input))
    }
}

/** Injected strategy: plans [[GroupTopKPlan]] as partial (map-side,
  * pre-shuffle) + final (post-shuffle, exact) [[GroupTopKExec]] — the
  * hash-aggregate shape. EnsureRequirements inserts the group-key
  * exchange from the final node's required distribution.
  */
object GroupTopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case GroupTopKPlan(g, o, k, child) =>
      GroupTopKExec(g, o, k, partial = false,
        GroupTopKExec(g, o, k, partial = true, planLater(child))) :: Nil
    case _ => Nil
  }
}

/** Physical bounded-heap top-k per group over one partition.
  *
  * Per input partition: one hash map group-key → size-k binary heap
  * ordered WORST-first (so the row to evict is O(1) at the root). A row
  * enters only if the heap is under k or beats the current worst —
  * O(log k) per accepted row, a single comparison per rejected row.
  * Memory is O(groups-in-partition × k) rows, independent of partition
  * row count — the reason this scales where a per-partition sort spills.
  *
  * The partial instance runs before the exchange on arbitrary input
  * partitioning (any superset of each group's true top-k survives — heap
  * pruning is correct on any subset of a group because dropped rows are
  * beaten by k better rows that also ride the shuffle). The final
  * instance declares `ClusteredDistribution(groupExprs)` so
  * EnsureRequirements co-locates whole groups, making its heaps exact.
  */
case class GroupTopKExec(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    partial: Boolean,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) Seq(UnspecifiedDistribution)
    else Seq(ClusteredDistribution(groupExprs))

  override protected def doExecute(): RDD[InternalRow] = {
    val g = groupExprs
    val o = order
    val kk = k
    val isPartial = partial
    // session-conf-backed, resolved on the driver at execution time —
    // per-query (no cross-query JVM global to race on), settable via
    // spark.conf.set without a restart
    val cap = conf.getConfString(GroupTopKExec.MaxPartialGroupsKey,
      GroupTopKExec.MaxPartialGroupsDefault.toString).toInt
    val attrs = child.output
    child.execute().mapPartitions({ iter =>
      val keyProj = UnsafeProjection.create(g, attrs)
      val ord = GenerateOrdering.generate(o, attrs)
      // heap root = the WORST retained row, so admission is one compare
      val worstFirst = ord.reverse
      val heaps =
        new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[InternalRow]]
      // Memory bound: heap rows are capped at `cap` groups × k; on the
      // PARTIAL side, rows of groups past the cap STREAM THROUGH
      // unpruned instead of being buffered — the map-side heap is an
      // optimization, never a correctness requirement (the final,
      // group-clustered instance sees every survivor and is exact).
      // Where a hash aggregate must spill, a pruning operator can
      // simply stop pruning: the cost is shuffle volume, not memory or
      // correctness. The final side never overflows: `cap` bounds
      // groups per partition, and post-shuffle partitions are sized by
      // the group count.
      new Iterator[InternalRow] {
        private var heapIter: Iterator[InternalRow] = _
        private var pending: InternalRow = _

        private def fill(): Unit = {
          while (pending == null && heapIter == null) {
            if (iter.hasNext) {
              val row = iter.next()
              val key = keyProj(row)
              var q = heaps.get(key)
              if (q == null && !(isPartial && heaps.size >= cap)) {
                q = new java.util.PriorityQueue[InternalRow](kk + 1,
                  worstFirst)
                heaps.put(key.copy(), q)
              }
              if (q == null) {
                // overflow group: emit now (no copy needed — the row is
                // consumed downstream before the next input row is read)
                pending = row
              } else if (q.size < kk) {
                q.add(row.copy())
              } else if (ord.compare(row, q.peek()) < 0) {
                q.poll()
                q.add(row.copy())
              }
            } else {
              import scala.jdk.CollectionConverters._
              heapIter = heaps.values().iterator().asScala
                .flatMap(_.iterator().asScala)
            }
          }
        }
        override def hasNext: Boolean = {
          fill()
          pending != null || heapIter.hasNext
        }
        override def next(): InternalRow = {
          fill()
          if (pending != null) { val r = pending; pending = null; r }
          else heapIter.next()
        }
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan)
      : GroupTopKExec = copy(child = newChild)
}

object GroupTopKExec {
  /** Session conf key for the per-partition cap on distinct groups the
    * PARTIAL heap map holds — bounds map-side memory at k × this many
    * rows plus keys. Groups past the cap skip pruning (correct, just
    * more shuffle). 1M groups × k=10 ≈ low hundreds of MB worst case,
    * in line with a hash-agg's budget. Read per query at execution time
    * (a session conf, not a JVM global — concurrent queries in one JVM
    * each see their own session's value).
    *
    * Memory contract, stated honestly: the FINAL (post-shuffle) side
    * holds every group routed to its partition — O(groups-per-partition
    * × k) rows with no spill path, the same keyed-state bound as a hash
    * aggregate before it spills. When distinct-group cardinality per
    * post-shuffle partition × k approaches executor memory, raise
    * `spark.sql.shuffle.partitions` (the state divides linearly) or
    * keep the stock Window path, which sorts and spills. The partial
    * cap is what keeps the MAP side bounded regardless. */
  val MaxPartialGroupsKey = "spark.graft.groupTopK.maxPartialGroups"
  val MaxPartialGroupsDefault: Int = 1 << 20
}

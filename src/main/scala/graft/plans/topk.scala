package graft.plans

import scala.collection.mutable
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute,
  AttributeReference, AttributeSet, Descending, GenericInternalRow, JoinedRow, RowOrdering,
  SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.IntegerType

/** Whole-operator extension path (SURVEY §4.3 / builder preference (c)):
  * per-key top-k as a custom LogicalPlan + SparkStrategy + physical
  * operator.
  *
  * The idiomatic formulation — `row_number().over(partitionBy(key).orderBy(o))`
  * then `rn <= k` — makes the Window operator SORT every row of every key
  * partition before the filter throws all but k away: O(n log n) comparisons
  * and a full materialized sort buffer per partition. This operator keeps a
  * bounded k-element heap per key instead: O(n log k) and O(keys × k)
  * memory, the difference between sorting 100 TB and scanning it once. The
  * operator is planned as a partial/final pair (see [[TopKPerKeyExec]]): the
  * partial heap pass runs below the exchange, so the shuffle carries at most
  * k rows per (key, input partition) — on a cluster the shuffle, not the
  * post-shuffle sort, is the dominant cost. Measured 2.2× faster than
  * the window form on 600k-row lineitem top-2-per-order at sf0.1 (k=2,
  * ~4 rows/key — the margin grows with rows per key).
  *
  * Its one way into a plan is [[WindowTopKRewrite]] over the idiomatic
  * window form; results are asserted identical to Spark's Window and
  * hash-matched against the DuckDB oracle (`win_top3_orders_per_customer`,
  * `samp_n_per_group`).
  */
case class TopKPerKeyPlan(
    keyNames: Seq[String],
    orderSpec: Seq[(String, Boolean)], // (column, descending)
    k: Int,
    child: LogicalPlan,
    rankAttr: AttributeReference)
  extends UnaryNode {
  // k <= 0 would SILENTLY emit one row per key: the exec's first-row branch
  // seeds each key's heap unconditionally, and only subsequent rows check
  // the limit. (WindowTopKRewrite already guards kv >= 1; this guards
  // any other construction.)
  require(k >= 1, s"top_k_per_key: k must be >= 1, got $k")
  override def output: Seq[Attribute] = child.output :+ rankAttr
  // rn is GENERATED here, not consumed from the child — without this the
  // analyzer reports MISSING_ATTRIBUTES
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr)
  // keys/order are held as NAMES, so the default (expression-derived)
  // references are empty and ColumnPruning would hand this node an empty
  // child under e.g. count(). The operator re-emits child rows verbatim, so
  // it genuinely consumes every child column. Callers pre-select columns.
  override def references: AttributeSet = child.outputSet
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyPlan =
    copy(child = newChild)
}

object TopKPerKeyPlan {
  def apply(keyNames: Seq[String], orderSpec: Seq[(String, Boolean)], k: Int,
      rankName: String, child: LogicalPlan): TopKPerKeyPlan =
    TopKPerKeyPlan(keyNames, orderSpec, k, child,
      AttributeReference(rankName, IntegerType, nullable = false)())
}

object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: TopKPerKeyPlan =>
      // honor the session's case-sensitivity for name resolution
      val resolver = org.apache.spark.sql.internal.SQLConf.get.resolver
      def attr(n: String) = p.child.output.find(a => resolver(a.name, n)).getOrElse(
        throw new IllegalArgumentException(
          s"top_k_per_key: column $n not in ${p.child.output.map(_.name)}"))
      val orders = p.orderSpec.map { case (n, desc) =>
        SortOrder(attr(n), if (desc) Descending else Ascending)
      }
      val keys = p.keyNames.map(attr)
      // partial/final split (the HashAggregate pattern): the partial pass
      // runs a bounded heap per input partition BELOW the exchange, so at
      // most k rows per (key, input-partition) ever cross the shuffle — any
      // row outside its partition-local top-k cannot be in the global top-k
      val partialPass =
        TopKPerKeyExec(keys, orders, p.k, p.rankAttr, planLater(p.child),
          partial = true)
      TopKPerKeyExec(keys, orders, p.k, p.rankAttr, partialPass) :: Nil
    case _ => Nil
  }
}

/** Optimizer rule: rewrites the idiomatic window top-k pattern —
  * `Filter(rn <= k)` over `Window([row_number() over (partition ORDER BY o)])`
  * — into [[TopKPerKeyPlan]], so EXISTING queries written with the standard
  * API get the heap operator without changing a line. The rewrite reuses the
  * window alias's attribute (same exprId), so references above the filter
  * keep resolving; it bails out on anything but the exact safe shape
  * (single row_number expression, attribute-only keys/orders with default
  * null ordering, unique column names, literal k ≥ 1). */
object WindowTopKRewrite extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions._
  import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project, Window => LWindow}

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond, w: LWindow) =>
      rewrite(cond, w).getOrElse(f)
    case f @ Filter(cond, p @ Project(list, w: LWindow))
        if list.forall(e => e.isInstanceOf[AttributeReference] ||
          (e.isInstanceOf[Alias] && e.asInstanceOf[Alias].child.isInstanceOf[AttributeReference])) =>
      // filter above a rename-only projection of the window output: resolve
      // the condition through the aliases before matching
      val aliasMap = list.collect {
        case al @ Alias(ar: AttributeReference, _) => al.toAttribute.exprId -> ar
      }.toMap
      val resolved = cond.transform {
        case a: AttributeReference if aliasMap.contains(a.exprId) => aliasMap(a.exprId)
      }
      rewrite(resolved, w) match {
        case Some(topk) => Project(list, topk)
        case _ => f
      }
  }

  private def rewrite(cond: Expression, w: LWindow): Option[LogicalPlan] = {
    val single = w.windowExpressions match {
      case Seq(a @ Alias(WindowExpression(RowNumber(),
          WindowSpecDefinition(parts, orders,
            SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow))), _)) =>
        Some((a, parts, orders))
      case _ => None
    }
    single.flatMap { case (alias, parts, orders) =>
      val rnAttr = alias.toAttribute
      val k = cond match {
        case LessThanOrEqual(a: AttributeReference, Literal(v: Int, IntegerType))
          if a.exprId == rnAttr.exprId => Some(v)
        case LessThan(a: AttributeReference, Literal(v: Int, IntegerType))
          if a.exprId == rnAttr.exprId => Some(v - 1)
        case _ => None
      }
      val keyAttrs = parts.collect { case a: AttributeReference => a }
      val orderCols = orders.collect {
        case SortOrder(a: AttributeReference, Ascending, NullsFirst, _) => (a.name, false)
        case SortOrder(a: AttributeReference, Descending, NullsLast, _) => (a.name, true)
      }
      val usedNames = (keyAttrs.map(_.name) ++ orderCols.map(_._1)).toSet
      val namesUnique =
        w.child.output.map(_.name).groupBy(identity)
          .forall { case (n, g) => !usedNames.contains(n) || g.size == 1 }
      // Spark's own InferWindowGroupLimit may already have wrapped the child
      // in a WindowGroupLimit (sort-based partial/final top-k); the heap
      // operator subsumes it, so strip it or we'd pay both
      val child = w.child match {
        case wgl: org.apache.spark.sql.catalyst.plans.logical.WindowGroupLimit =>
          wgl.child
        case c => c
      }
      k match {
        // parts.nonEmpty: a GLOBAL top-k (no partitionBy) is better served
        // by Spark's own partial/final WindowGroupLimit than by funneling
        // every row into one partition's heap — leave it alone
        case Some(kv) if kv >= 1 && parts.nonEmpty &&
            keyAttrs.size == parts.size &&
            orderCols.size == orders.size && orders.nonEmpty && namesUnique =>
          Some(TopKPerKeyPlan(keyAttrs.map(_.name), orderCols, kv, child,
            rnAttr.asInstanceOf[AttributeReference]))
        case _ => None
      }
    }
  }
}

/** Heap-based per-key top-k, in two modes (the partial/final HashAggregate
  * pattern):
  *
  *   - `partial = true`: runs on the child's own partitioning (no required
  *     distribution) and emits the ≤ k surviving rows per (key, partition),
  *     UNRANKED. This is the map-side prune — at most k·distinctKeys rows
  *     per input partition reach the exchange, instead of every child row.
  *   - `partial = false` (final): requires rows clustered by key, re-heaps
  *     the survivors, and appends the 1-based rank.
  *
  * The split is semantics-preserving for row_number-style ranking: a row
  * outside its input partition's top-k under the (total) sort order cannot
  * be in the global top-k for its key. */
case class TopKPerKeyExec(
    keyAttrs: Seq[Attribute],
    orders: Seq[SortOrder],
    k: Int,
    rankAttr: Attribute,
    child: SparkPlan,
    partial: Boolean = false)
  extends UnaryExecNode {

  override def nodeName: String =
    if (partial) "TopKPerKeyPartial" else "TopKPerKeyFinal"

  override def output: Seq[Attribute] =
    if (partial) child.output else child.output :+ rankAttr
  // rankAttr is always "produced here, not consumed from the child" — in
  // partial mode it is simply not emitted. Keeping it in producedAttributes
  // in both modes stops missingInput from flagging the partial node (the
  // "!" prefix in plan strings).
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr)

  /** Final: rows of one key must meet in one partition — but NO sort is
    * required of the child (the heap does the bounded ordering). Empty keys
    * = global top-k: all (partial-pruned) rows to one partition
    * (ClusteredDistribution(Nil) is rejected by its constructor).
    * Partial: runs wherever the child's rows already are. */
  override def requiredChildDistribution: Seq[Distribution] =
    (if (partial) org.apache.spark.sql.catalyst.plans.physical.UnspecifiedDistribution
     else if (keyAttrs.isEmpty) org.apache.spark.sql.catalyst.plans.physical.AllTuples
     else ClusteredDistribution(keyAttrs)) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val outputAttrs = output
    val keys = keyAttrs
    val sortOrders = orders
    val limit = k
    val isPartial = partial
    child.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(keys, childOutput)
      val cmp = RowOrdering.create(sortOrders, childOutput)
      // max-heap under cmp: head = worst of the current k best
      implicit val heapOrd: Ordering[InternalRow] =
        (a: InternalRow, b: InternalRow) => cmp.compare(a, b)
      val heaps = mutable.LinkedHashMap.empty[UnsafeRow, mutable.PriorityQueue[InternalRow]]
      iter.foreach { row =>
        val key = keyProj(row)
        heaps.get(key) match {
          case Some(heap) =>
            if (heap.size < limit) heap.enqueue(row.copy())
            else if (cmp.compare(row, heap.head) < 0) {
              heap.dequeue()
              heap.enqueue(row.copy())
            }
          case None =>
            val heap = mutable.PriorityQueue.empty[InternalRow]
            heap.enqueue(row.copy())
            heaps.put(key.copy(), heap)
        }
      }
      if (isPartial) {
        // survivors only, no rank (heap order is irrelevant — the final
        // pass re-ranks); downstream exchange requires UnsafeRow
        val proj = UnsafeProjection.create(childOutput, childOutput)
        heaps.iterator.flatMap { case (_, heap) =>
          heap.iterator.map(r => proj(r): InternalRow)
        }
      } else {
        // serialize the JoinedRow (childRow ++ rank) through one projection
        val outProj = UnsafeProjection.create(outputAttrs, outputAttrs)
        heaps.iterator.flatMap { case (_, heap) =>
          val ranked: Seq[InternalRow] = heap.dequeueAll.reverse
          ranked.iterator.zipWithIndex.map { case (r, i) =>
            outProj(new JoinedRow(r, new GenericInternalRow(Array[Any](i + 1))))
              : InternalRow
          }
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

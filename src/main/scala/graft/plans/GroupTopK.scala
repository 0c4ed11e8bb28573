package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Ascending, Attribute, AttributeSet, Descending, Expression, KnownFloatingPointNormalized, PredicateHelper, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.optimizer.NormalizeNaNAndZero
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** SURVEY §2.10 tier (c): a whole-operator extension — custom LogicalPlan
  * + SparkStrategy + SparkPlan + optimizer Rule, registered through
  * SparkSessionExtensions.
  *
  * Top-k per group is the one O3 shape the built-ins express only
  * wastefully: `row_number().over(partitionBy(g).orderBy(o)) <= k` plans a
  * WindowExec, which SORTS every group's every row (O(n log n) per
  * partition, full shuffle of all rows). This operator keeps a bounded
  * heap per group instead — O(n log k) — and runs in two phases like an
  * aggregate: a PARTIAL pass before the exchange cuts each input
  * partition to ≤k rows per group, so the shuffle carries at most
  * (partitions × groups × k) rows instead of everything; the FINAL pass
  * (child clustered AND sorted on the group keys, both enforced through
  * `requiredChild*`, so EnsureRequirements inserts the exchange + a
  * spillable sort) streams one group at a time in O(k) memory. At 100 TB
  * with k=3 and bounded group counts, the exchange drops from the full
  * fact table to KBs — the same map-side-combine argument as partial
  * aggregation, applied to ranking.
  */
case class GroupTopK(groupExprs: Seq[Expression], order: Seq[SortOrder],
                     k: Int, child: LogicalPlan) extends UnaryNode {
  require(k > 0, s"k must be positive, got $k")
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): GroupTopK =
    copy(child = newChild)
}

/** Catalyst cannot see through an opaque custom node, so a Filter above
  * GroupTopK would stay above it — and the operator would compute top-k
  * for every group only to discard most of them. Group-key-only
  * conjuncts commute with per-group top-k (dropping a whole group before
  * or after ranking it yields the same rows), so this rule moves them
  * below the operator; injected into the operator-optimization batch
  * (`injectOptimizerRule`), the standard pushdown rules then carry them
  * all the way to the scan. Non-group conjuncts stay above. */
object PushFilterThroughGroupTopK extends Rule[LogicalPlan] with PredicateHelper {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, gtk @ GroupTopK(groupExprs, _, _, child)) =>
      val groupAttrs = AttributeSet(groupExprs.flatMap(_.references))
      val (push, keep) = splitConjunctivePredicates(cond)
        .partition(p => p.deterministic && p.references.subsetOf(groupAttrs))
      if (push.isEmpty) f
      else {
        val pushed = gtk.copy(child = Filter(push.reduce(And), child))
        keep.reduceOption(And).map(Filter(_, pushed)).getOrElse(pushed)
      }
  }
}

/** Two-phase bounded-heap execution.
  *
  * `partial` keeps ≤k per group per input partition with no distribution
  * requirement; its group map is BOUNDED — when a high-cardinality group
  * column exceeds [[GroupTopKExec.PartialFlushGroups]] distinct keys in
  * one task, the current heaps flush downstream and the map resets
  * (partial output need not be globally deduped; the final phase merges),
  * so partial memory is O(flushBound × k) regardless of cardinality —
  * the same contract HashAggregate gets from spilling.
  *
  * The final phase requires clustering AND ordering on the group keys:
  * after the exchange, Spark's own (spillable) SortExec clusters each
  * group contiguously and the merge streams one group's heap at a time —
  * O(k) memory at any group cardinality. */
case class GroupTopKExec(groupExprs: Seq[Expression], order: Seq[SortOrder],
                         k: Int, partial: Boolean, child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) Seq(UnspecifiedDistribution) else Seq(ClusteredDistribution(groupExprs))
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    if (partial) Seq(Nil) else Seq(groupExprs.map(SortOrder(_, Ascending)))
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override protected def withNewChildInternal(newChild: SparkPlan): GroupTopKExec =
    copy(child = newChild)

  protected override def doExecute(): RDD[InternalRow] = {
    val (groupE, orderE, kk, out, isPartial) = (groupExprs, order, k, child.output, partial)
    val flushBound = conf.getConfString("spark.graft.topk.partialFlushGroups",
      GroupTopKExec.PartialFlushGroups.toString).toInt
    child.execute().mapPartitions({ iter =>
      val toUnsafe = UnsafeProjection.create(out.map(_.dataType).toArray)
      val keyProj = UnsafeProjection.create(groupE, out)
      val ord = GenerateOrdering.generate(orderE, out)
      // per group, a reverse-ordered heap whose head is the WORST kept row
      val worstFirst = new java.util.Comparator[UnsafeRow] {
        def compare(a: UnsafeRow, b: UnsafeRow): Int = -ord.compare(a, b)
      }
      def newHeap() = new java.util.PriorityQueue[UnsafeRow](kk + 1, worstFirst)
      def offer(h: java.util.PriorityQueue[UnsafeRow], row: UnsafeRow): Unit =
        if (h.size < kk) h.add(row.copy())
        else if (ord.compare(row, h.peek()) < 0) { h.poll(); h.add(row.copy()) }
      def drainHeap(h: java.util.PriorityQueue[UnsafeRow]): Iterator[InternalRow] = {
        val arr = h.toArray(new Array[UnsafeRow](h.size))
        java.util.Arrays.sort(arr, ord)
        arr.iterator
      }
      val rows = iter.map {
        case u: UnsafeRow => u
        case r => toUnsafe(r)
      }

      if (isPartial) {
        // hash phase, bounded: flush heaps whenever the map outgrows the
        // budget — duplicates-per-key across flushes are fine, the final
        // phase re-merges
        import scala.jdk.CollectionConverters._
        val heaps = new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[UnsafeRow]]()
        new Iterator[InternalRow] {
          private var outIt: Iterator[InternalRow] = Iterator.empty
          private def refill(): Unit = {
            while (rows.hasNext && heaps.size < flushBound) {
              val row = rows.next()
              val key = keyProj(row)
              var h = heaps.get(key)
              if (h == null) { h = newHeap(); heaps.put(key.copy(), h) }
              offer(h, row)
            }
            if (!heaps.isEmpty) {
              val drained = heaps.values().asScala.toArray
              heaps.clear()
              outIt = drained.iterator.flatMap(drainHeap)
            }
          }
          def hasNext: Boolean = {
            while (!outIt.hasNext && rows.hasNext) refill()
            outIt.hasNext
          }
          def next(): InternalRow = { if (!hasNext) Iterator.empty.next(); outIt.next() }
        }
      } else {
        // streaming merge phase: input is clustered+sorted on the group
        // keys, so one heap at a time — O(k) memory at any cardinality
        new Iterator[InternalRow] {
          private var outIt: Iterator[InternalRow] = Iterator.empty
          private var curKey: UnsafeRow = null
          private var heap = newHeap()
          private def step(): Unit = {
            while (!outIt.hasNext && rows.hasNext) {
              val row = rows.next()
              val key = keyProj(row)
              if (curKey == null) { curKey = key.copy(); offer(heap, row) }
              else if (key == curKey) offer(heap, row)
              else {
                outIt = drainHeap(heap)
                heap = newHeap(); curKey = key.copy(); offer(heap, row)
              }
            }
            if (outIt.isEmpty && !rows.hasNext && curKey != null) {
              outIt = drainHeap(heap); heap = newHeap(); curKey = null
            }
          }
          def hasNext: Boolean = {
            while (!outIt.hasNext && (rows.hasNext || curKey != null)) step()
            outIt.hasNext
          }
          def next(): InternalRow = { if (!hasNext) Iterator.empty.next(); outIt.next() }
        }
      }
    }, preservesPartitioning = true)
  }
}

object GroupTopKExec {
  /** Partial-phase group-map budget. 64k heaps × (k+1) cached UnsafeRows
    * is a few MB for narrow rows — comfortably inside an executor task's
    * share, while still giving the map-side cut its full benefit for the
    * common bounded-group case. */
  val PartialFlushGroups: Int = 1 << 16
}

/** Plans GroupTopK as partial→(exchange+sort)→final. Registered by
  * [[graft.GraftExtensions]] (`injectPlannerStrategy`). */
object GroupTopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case GroupTopK(g, o, k, child) =>
      GroupTopKExec(g, o, k, partial = false,
        GroupTopKExec(g, o, k, partial = true, planLater(child))) :: Nil
    case _ => Nil
  }
}

object GroupTopK {
  /** GROUP BY / window semantics for floating-point keys: Spark runs
    * NormalizeFloatingNumbers over Aggregate/Window grouping keys so that
    * -0.0 == 0.0 and all NaN bit patterns collapse; a custom node is not
    * covered by that rule, so the same normalization is applied here at
    * construction. Raw UnsafeRow binary equality is then correct. */
  private def normalizeFp(e: Expression): Expression = e.dataType match {
    case FloatType | DoubleType => KnownFloatingPointNormalized(NormalizeNaNAndZero(e))
    case _ => e
  }

  /** API: top `k` rows per `group`, ranked by `order` — (columnName,
    * descending?) pairs. Attributes are resolved HERE against the
    * analyzed child (Column objects would smuggle lazily-resolved
    * connect-layer nodes into a custom plan, which the analyzer treats
    * as resolved and the codegen then rejects); pre-project any computed
    * ordering expression into a column first. Ties break only by the
    * order columns, so include a unique tiebreaker for determinism. */
  def topKPerGroup(df: DataFrame, group: Seq[String],
                   order: Seq[(String, Boolean)], k: Int): DataFrame = {
    val s = df.sparkSession
    require(s.sessionState.planner.extraPlanningStrategies.contains(GroupTopKStrategy),
      "GroupTopK runs only on a session built with spark.sql.extensions=graft.GraftExtensions")
    val child = df.queryExecution.analyzed
    def attr(n: String): Attribute = child.output.find(_.name == n)
      .getOrElse(throw new IllegalArgumentException(
        s"no column '$n' in ${child.output.map(_.name).mkString(", ")}"))
    val orderExprs = order.map { case (n, desc) =>
      SortOrder(attr(n), if (desc) Descending else Ascending)
    }
    org.apache.spark.sql.GraftSqlShim.ofRows(s,
      GroupTopK(group.map(n => normalizeFp(attr(n))), orderExprs, k, child))
  }
}

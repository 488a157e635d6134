package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.Strategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Descending, Expression, SortOrder}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}

/** Whole-operator Catalyst extension (SURVEY §3 preference (c)):
  * per-key top-k without a total per-partition sort.
  *
  * The declarative alternative — `row_number().over(partitionBy(key)
  * .orderBy(ord))` then `filter(rn <= k)` — must sort every row of
  * every partition before it can rank. This operator keeps one
  * bounded heap per key: a *partial* pass per input partition feeds
  * at most k rows per (partition, key) into the shuffle
  * (EnsureRequirements inserts the exchange to satisfy the final
  * node's ClusteredDistribution), and a *final* pass merges. At 100 TB
  * with hot keys, the shuffle carries O(partitions × k) rows per key
  * instead of all of them — the same partial/final shape Spark's own
  * aggregates use, applied to an operator Catalyst doesn't provide.
  */
final case class TopKPerKeyPlan(
    keys: Seq[Expression],
    ordering: Seq[SortOrder],
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): LogicalPlan =
    copy(child = newChild)
}

final case class TopKPerKeyExec(
    keys: Seq[Expression],
    ordering: Seq[SortOrder],
    k: Int,
    partial: Boolean,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) Seq(UnspecifiedDistribution)
    else Seq(ClusteredDistribution(keys))

  override protected def withNewChildInternal(newChild: SparkPlan): SparkPlan =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val keyExprs = keys
    val sortOrder = ordering
    val limit = k
    val childOutput = child.output
    // Memory budget for the PARTIAL pass: its key map is unbounded
    // in distinct keys (every input partition sees every key — for
    // doc-grain consumers like text_tfidf_top that is ≈ every row of
    // the partition). Past the budget we FLUSH the current heaps
    // downstream and rebuild — correctness-preserving because the
    // final pass re-merges per key (the ObjectHashAggregate
    // fallback discipline, realized as flush-and-restart rather
    // than sort-based regression). The final pass holds only its
    // hash partition's keys at ≤ k rows each — 1/N of the key space
    // — so it keeps the plain map.
    val maxPartialKeys =
      if (!partial) Int.MaxValue
      else math.max(1, conf.getConfString(
        "graft.topk.partialRowBudget", (1 << 20).toString).toInt / math.max(1, k))
    child.execute().mapPartitions { it =>
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      // ascending "comes first in the requested order" comparator;
      // scala PQ dequeues the MAX, i.e. the currently-worst row
      val ord = GenerateOrdering.generate(sortOrder, childOutput)
      val heaps = mutable.LinkedHashMap.empty[InternalRow, mutable.PriorityQueue[InternalRow]]

      new Iterator[InternalRow] {
        private var pending: Iterator[InternalRow] = Iterator.empty

        private def drainHeaps(): Iterator[InternalRow] = {
          // ≤ budget rows materialized — exactly the capped map size
          val rows = heaps.valuesIterator.flatMap(_.toArray.sorted(ord)).toArray
          heaps.clear()
          rows.iterator
        }

        private def advance(): Unit = {
          while (!pending.hasNext && (it.hasNext || heaps.nonEmpty)) {
            var flushed = false
            while (!flushed && it.hasNext) {
              val row = it.next()
              val heap = heaps.getOrElseUpdate(
                keyProj(row).copy(),
                mutable.PriorityQueue.empty[InternalRow](ord))
              if (heap.size < limit) heap.enqueue(row.copy())
              else if (ord.compare(row, heap.head) < 0) {
                heap.dequeue()
                heap.enqueue(row.copy())
              }
              if (heaps.size > maxPartialKeys) flushed = true
            }
            pending = drainHeaps()
          }
        }

        override def hasNext: Boolean = { advance(); pending.hasNext }
        override def next(): InternalRow = { advance(); pending.next() }
      }
    }
  }
}

object TopKStrategy extends Strategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyPlan(keys, ord, k, child) =>
      TopKPerKeyExec(keys, ord, k, partial = false,
        TopKPerKeyExec(keys, ord, k, partial = true, planLater(child))) :: Nil
    case _ => Nil
  }
}

/** User-facing API: `TopK.perKey(df, Seq("event_type"),
  * Seq("value" -> false, "event_id" -> true), 3)` — order fields as
  * (name, ascending). */
/** Optimizer rule: rewrite the declarative top-k idiom —
  * `Filter(rn ≤ k)` over a `row_number()` Window — to run over a
  * [[TopKPerKeyPlan]] pruned child. The Window and Filter STAY (they
  * produce the rank column and define the semantics); the rule
  * inserts the bounded-heap prune underneath, so the per-partition
  * sort ranks k·keys survivor rows instead of the corpus. This is
  * what makes the native operator reachable from PLAIN SQL: any
  * `WHERE rn <= k` subquery a BI tool generates gets the heap plan
  * without knowing the DSL exists.
  *
  * Sound because the heap prune keeps exactly a top-k set under the
  * SAME (partition, order) spec the window ranks by: recomputed row
  * numbers over the pruned set equal the original numbers for the
  * surviving rows (ties resolve arbitrarily in both plans, exactly
  * as the un-rewritten window does). Guarded for idempotence (skips
  * windows already fed by a TopKPerKeyPlan). */
object TopKRewrite
    extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.{Alias, IntegerLiteral, LessThan, LessThanOrEqual, RowNumber, WindowExpression}
  import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project, Window}

  private def pruned(w: Window, rnId: org.apache.spark.sql.catalyst.expressions.ExprId,
      k: Int): Option[Window] = w.windowExpressions match {
    case Seq(a @ Alias(WindowExpression(RowNumber(), spec), _))
        if a.exprId == rnId && k > 0 &&
          spec.partitionSpec.nonEmpty && spec.orderSpec.nonEmpty &&
          !w.child.isInstanceOf[TopKPerKeyPlan] =>
      Some(w.copy(child =
        TopKPerKeyPlan(spec.partitionSpec, spec.orderSpec, k, w.child)))
    case _ => None
  }

  def apply(plan: LogicalPlan): LogicalPlan = plan transform {
    case f @ Filter(LessThanOrEqual(attr: Attribute, IntegerLiteral(k)), w: Window) =>
      pruned(w, attr.exprId, k).map(nw => f.copy(child = nw)).getOrElse(f)
    case f @ Filter(LessThan(attr: Attribute, IntegerLiteral(k)), w: Window) =>
      pruned(w, attr.exprId, k - 1).map(nw => f.copy(child = nw)).getOrElse(f)
    case f @ Filter(LessThanOrEqual(attr: Attribute, IntegerLiteral(k)),
        p @ Project(_, w: Window)) =>
      pruned(w, attr.exprId, k)
        .map(nw => f.copy(child = p.copy(child = nw))).getOrElse(f)
    case f @ Filter(LessThan(attr: Attribute, IntegerLiteral(k)),
        p @ Project(_, w: Window)) =>
      pruned(w, attr.exprId, k - 1)
        .map(nw => f.copy(child = p.copy(child = nw))).getOrElse(f)
  }
}

object TopK {
  /** Register the strategy AND the SQL-idiom rewrite on a session
    * imperatively (the gate's plain sessions have no extensions
    * config; `GraftExtensions` injects the same pair declaratively). */
  def enableRewrite(spark: org.apache.spark.sql.SparkSession): Unit = {
    addStrategy(spark)
    if (!spark.experimental.extraOptimizations.contains(TopKRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ TopKRewrite
  }

  def perKey(
      df: DataFrame,
      keyCols: Seq[String],
      orderCols: Seq[(String, Boolean)],
      k: Int): DataFrame = {
    require(k > 0)
    val spark = df.sparkSession
    addStrategy(spark)
    val analyzed = df.queryExecution.analyzed
    def attr(name: String): Attribute =
      analyzed.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"column $name not in ${analyzed.output.map(_.name)}"))
    val ordering = orderCols.map { case (n, asc) =>
      SortOrder(attr(n), if (asc) Ascending else Descending)
    }
    val plan = TopKPerKeyPlan(keyCols.map(attr), ordering, k, analyzed)
    org.apache.spark.sql.graft.ColumnBridge.ofRows(spark, plan)
  }

  /** Only adds: a second call changes nothing. */
  private def addStrategy(spark: org.apache.spark.sql.SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(TopKStrategy))
      spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ TopKStrategy
}

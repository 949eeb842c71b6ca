package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeSet, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, IsNotNull, LessThan, LessThanOrEqual, Literal, RowNumber, SpecifiedWindowFrame, WindowExpression, WindowSpecDefinition}
import org.apache.spark.sql.catalyst.expressions.{CurrentRow, RowFrame, UnboundedPreceding}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.IntegerType

/** Optimizer rule: rewrite the DataFrame/SQL top-k-per-key idiom
  *
  *   row_number() OVER (PARTITION BY p ORDER BY o) AS rn ... WHERE rn <= k
  *
  * (with `rn` discarded above the filter) into [[TopKPerKeyNode]] — the
  * bounded-heap physical operator. The window form sorts EVERY partition
  * fully before discarding all but k rows; the heap form does one
  * shuffle, no sort, O(rows·log k) work. At 100 TB the per-partition
  * sort is the cost and this rewrite removes it without the user knowing
  * the custom operator exists.
  *
  * Rewrite fires only when it is provably the same multiset of rows:
  *  - the window computes exactly ONE expression, a plain `row_number()`
  *    (rank/dense_rank can emit MORE than k rows on ties — never rewritten);
  *  - the filter is `rn <= k` / `rn < k` / `rn = 1` (any literal-compare
  *    orientation) and references nothing else;
  *  - there is a Project above the filter. If it still references `rn`,
  *    the operator emits the row numbers itself — ordering the <= k
  *    SURVIVORS of each key (a k-row sort) instead of every row of
  *    every partition;
  *  - partition and order expressions are deterministic and non-empty.
  *
  * Like `row_number` itself, row identity under order TIES is
  * unspecified — both plans return k rows per key that are best by the
  * order; a query whose result must be deterministic needs a total
  * order either way.
  *
  * Memory bound (same as [[TopKPerKey]]): the heap map holds keys·k rows
  * per partition with no spill path. `spark.graft.topkRewrite.maxK`
  * (default 1000) caps the k this rule will grab; past the cap — or with
  * `spark.graft.topkRewrite.enabled=false` — the window plan stands.
  */
object TopKRewriteRule extends Rule[LogicalPlan] {

  private def enabled: Boolean =
    SQLConf.get.getConfString("spark.graft.topkRewrite.enabled", "true").toBoolean
  private def maxK: Int =
    SQLConf.get.getConfString("spark.graft.topkRewrite.maxK", "1000").toInt

  private val rowNumberFrame =
    SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow)

  /** The single window expression iff it is a row_number over the node's
    * own partition/order spec with the standard frame.
    */
  private def rowNumberAttr(w: Window): Option[Attribute] = w.windowExpressions match {
    case Seq(a @ Alias(WindowExpression(RowNumber(),
        WindowSpecDefinition(part, order, frame)), _))
        if frame == rowNumberFrame && part == w.partitionSpec && order == w.orderSpec =>
      Some(a.toAttribute)
    case _ => None
  }

  /** k such that the predicate keeps exactly rows with rn <= k. */
  private def boundOf(cond: Expression, rn: Attribute): Option[Int] = {
    val conjuncts = splitAnd(cond)
    val (notNulls, rest) = conjuncts.partition {
      case IsNotNull(a: Attribute) => a.semanticEquals(rn)
      case _ => false
    }
    val _ = notNulls
    rest match {
      case Seq(one) => one match {
        case LessThanOrEqual(a: Attribute, Literal(k: Int, IntegerType)) if a.semanticEquals(rn) => Some(k)
        case LessThan(a: Attribute, Literal(k: Int, IntegerType)) if a.semanticEquals(rn) => Some(k - 1)
        case GreaterThanOrEqual(Literal(k: Int, IntegerType), a: Attribute) if a.semanticEquals(rn) => Some(k)
        case GreaterThan(Literal(k: Int, IntegerType), a: Attribute) if a.semanticEquals(rn) => Some(k - 1)
        case EqualTo(a: Attribute, Literal(1, IntegerType)) if a.semanticEquals(rn) => Some(1)
        case EqualTo(Literal(1, IntegerType), a: Attribute) if a.semanticEquals(rn) => Some(1)
        case _ => None
      }
      case _ => None
    }
  }

  private def splitAnd(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitAnd(l) ++ splitAnd(r)
    case other => Seq(other)
  }

  private def eligible(w: Window): Boolean =
    w.partitionSpec.nonEmpty && w.orderSpec.nonEmpty &&
      w.partitionSpec.forall(_.deterministic) &&
      w.orderSpec.forall(_.deterministic)

  private def boundedRn(w: Window, cond: Expression): Option[(Attribute, Int)] =
    for {
      rn <- rowNumberAttr(w)
      if cond.references == AttributeSet(rn)
      k <- boundOf(cond, rn)
      if k >= 1 && k <= maxK
    } yield (rn, k)

  // transformDown: the Project form must win over its own inner Filter
  // form, so the rank column is only materialized when demanded
  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!enabled) plan
    else plan.transformDown {
      case p @ Project(projectList, Filter(cond, w: Window)) if eligible(w) =>
        boundedRn(w, cond).map { case (rn, k) =>
          // if the row numbers themselves are demanded above the
          // filter, the operator emits them (a sort of the <= k
          // survivors per key); otherwise they are dropped for free
          val rank =
            if (projectList.exists(_.references.contains(rn))) Some(rn) else None
          Project(projectList,
            TopKPerKeyNode(k, w.partitionSpec, w.orderSpec, w.child, rank))
        }.getOrElse(p)
      // bare Filter (no Project above — the whole window output is the
      // result, rank included): column pruning would have inserted a
      // Project if rn were unused, so here the ranks are demanded
      case f @ Filter(cond, w: Window) if eligible(w) =>
        boundedRn(w, cond).map { case (rn, k) =>
          TopKPerKeyNode(k, w.partitionSpec, w.orderSpec, w.child, Some(rn))
            : LogicalPlan
        }.getOrElse(f)
    }

  /** Install rule + strategy into a live session (tests, notebooks);
    * new sessions get both through `spark.sql.extensions`.
    */
  def install(spark: org.apache.spark.sql.SparkSession): Unit = {
    TopKPerKey.install(spark)
    if (!spark.experimental.extraOptimizations.contains(TopKRewriteRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ TopKRewriteRule
  }
}

package graft.plans

import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeSet, ExpressionSet, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LeafNode, LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.FILTER
import org.apache.spark.sql.execution.SparkPlan

/** Plan fence: an identity node over a frame whose columns are
  * expensive to derive (regex chains, per-row kernels such as
  * `gopher_metrics`).
  *
  * Without it, Catalyst's predicate pushdown moves a filter on a
  * derived column below the projection that derives it by
  * substituting the column with its defining expression, and
  * constraint inference does the same to the filters it infers. A
  * filter on eight flags over one `gopher_metrics` column then holds
  * sixteen copies of the kernel, each evaluated per row, outside
  * whole-stage codegen. Pushdown and constraint inference stop at
  * nodes they do not know, so this node keeps the derivation below it
  * evaluated once per row, in its projection.
  *
  * Everything else sees through it:
  *  - `output`, `maxRows` and `maxRowsPerPartition` are the child's,
  *    so the zero-row frames of `check` stay provably empty;
  *  - column pruning inserts its projection below the fence, so a
  *    frame that drops the derived columns never computes them;
  *  - [[FencePushdown]] lets a filter conjunct through when it reads
  *    only columns the fenced child does not derive (a `source`
  *    predicate still reaches the parquet scan);
  *  - [[FenceStrategy]] plans the node as its child: it costs nothing
  *    at run time.
  *
  * It reports no constraints: a constraint read through the fence
  * would let inference copy the derivation back into a filter. */
case class Fence(child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override def maxRowsPerPartition: Option[Long] = child.maxRowsPerPartition
  override protected lazy val validConstraints: ExpressionSet = ExpressionSet()
  override protected def withNewChildInternal(newChild: LogicalPlan): Fence =
    copy(child = newChild)
}

/** Plans [[Fence]] as its child; declines everything else. */
object FenceStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Fence(child) => planLater(child) :: Nil
    case _ => Nil
  }
}

/** Moves each deterministic filter conjunct over a [[Fence]] below
  * it when the conjunct reads no column derived inside the fenced
  * region (the child's subtree down to the next fence or leaf). Such a
  * conjunct refers to scan columns or to columns an earlier fence
  * derived, so pushing it further copies no expression of this
  * region; Spark's own pushdown then carries it on. */
object FencePushdown extends Rule[LogicalPlan] with PredicateHelper {

  /** Columns some node of `p` computes rather than passes through
    * from a child; leaves (scans, local rows) and the next fence are
    * not this region's derivations. */
  private def derived(p: LogicalPlan): AttributeSet = p match {
    case _: Fence | _: LeafNode => AttributeSet.empty
    case _ =>
      val inherited = AttributeSet(p.children.flatMap(_.output))
      p.children.map(derived).foldLeft(
        AttributeSet(p.output.filterNot(inherited.contains)))(_ ++ _)
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformWithPruning(_.containsPattern(FILTER)) {
      case f @ Filter(cond, Fence(child)) =>
        val inner = derived(child)
        val (down, stay) = splitConjunctivePredicates(cond).partition(c =>
          c.deterministic && !c.references.exists(inner.contains))
        if (down.isEmpty) f
        else {
          val fenced = Fence(Filter(down.reduce(And), child))
          stay.reduceOption(And).map(Filter(_, fenced)).getOrElse(fenced)
        }
    }
}

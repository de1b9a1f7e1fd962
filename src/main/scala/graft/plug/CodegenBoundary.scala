package graft.plug

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.SparkSession

/** A pass-through plan node that ends one whole-stage-codegen region.
  *
  * Spark fuses a chain of `Project`s into a single generated `processNext`
  * and never splits the consume code of a `Project` chain, so a long rule
  * chain grows one method past HotSpot's 8000-byte JIT limit and then runs
  * interpreted. The rule fold puts this node between chain segments: it
  * plans to an exec node without codegen support, so the segments below and
  * above compile as separate stages, each under the limit. Rows pass
  * through untouched.
  *
  * The optimizer does not push filters through the node; column pruning
  * still reaches below it (Spark's generic `ColumnPruning` case).
  */
case class CodegenBoundary(child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): CodegenBoundary =
    copy(child = newChild)
}

case class CodegenBoundaryExec(child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override protected def doExecute(): RDD[InternalRow] = child.execute()
  override protected def withNewChildInternal(newChild: SparkPlan): CodegenBoundaryExec =
    copy(child = newChild)
}

object CodegenBoundary {

  object Strategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case CodegenBoundary(child) => CodegenBoundaryExec(planLater(child)) :: Nil
      case _ => Nil
    }
  }

  /** Adds the planner strategy to the session once. */
  def setup(session: SparkSession): Unit = {
    val experimental = session.experimental
    experimental.synchronized {
      if (!experimental.extraStrategies.contains(Strategy))
        experimental.extraStrategies = Strategy +: experimental.extraStrategies
    }
  }

}

/** The columns a run of rules is resolved against. The rule fold analyzes
  * every rule of a run in one `Project` over this leaf, then stacks the
  * resolved projections over the real plan, so the leaf never reaches the
  * optimizer or the planner. */
private[plug] case class ChainInput(output: Seq[Attribute]) extends LeafNode

package graft.plans

import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{ProjectExec, SparkPlan, SparkStrategy}

/** Pass-through logical node above `GraftApp.decoded`'s decode projection.
  * The optimiser pushes filters only through operators it knows, so the
  * DLQ split, the handler's filters and the non-null output filter stay
  * above this node and read the decoded columns instead of inlining the
  * decoders into a FilterExec. Column pruning still passes through it: it
  * has no expressions of its own, so it requires nothing of its child.
  */
case class DecodeBarrier(child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output

  override protected def withNewChildInternal(newChild: LogicalPlan): DecodeBarrier =
    copy(child = newChild)
}

/** Plans [[DecodeBarrier]] as a plain projection of its child's output.
  * Installed by [[graft.GraftExtensions]]; a planner without it fails
  * with "No plan for DecodeBarrier".
  */
object DecodeBarrierStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case DecodeBarrier(child) => ProjectExec(child.output, planLater(child)) :: Nil
    case _ => Nil
  }
}

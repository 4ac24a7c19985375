package graft.plans

import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
import org.apache.spark.sql.catalyst.graftbridge.PlanBridge
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Project}

/** The input leaf of a plan template: `GraftApp` analyses its routing
  * once over this leaf and binds each micro-batch into it. No planner
  * strategy plans it, so a template that was never bound fails with
  * "No plan for BatchPlaceholder" instead of reading as an empty
  * relation. Like any relation it takes new attribute ids where a
  * handler joins its records with themselves.
  */
case class BatchPlaceholder(output: Seq[Attribute]) extends LeafNode with MultiInstanceRelation {
  override def newInstance(): BatchPlaceholder = copy(output = output.map(_.newInstance()))
}

object BatchPlaceholder {

  /** `template` with every placeholder replaced by `batch`, matched by
    * column name: a projection of aliases that keep the placeholder's
    * attribute ids, so every operator above reads the batch unchanged.
    * Both plans are analysed and the batch has each placeholder column
    * with its type, so the result is marked analysed as it is, and a
    * `Dataset` over it starts no second analysis.
    */
  def bind(template: LogicalPlan, batch: LogicalPlan): LogicalPlan = {
    val byName = batch.output.map(a => a.name -> a).toMap
    PlanBridge.analyzed(template.transformUp {
      case p: BatchPlaceholder =>
        Project(p.output.map(a => Alias(byName(a.name), a.name)(a.exprId)), batch)
    })
  }
}

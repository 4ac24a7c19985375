package org.apache.spark.sql.catalyst.graftbridge

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Access to catalyst's analysed-plan flag, which is `private[catalyst]`
  * — hence this shim under the catalyst package, as
  * `org.apache.spark.sql.graftbridge.ColumnBridge` is for `Column`.
  */
object PlanBridge {

  /** `plan`, marked analysed: the analyser and CheckAnalysis pass it by,
    * as they pass by a plan they analysed themselves. Only for a plan
    * assembled from analysed parts whose every reference already holds.
    */
  def analyzed(plan: LogicalPlan): LogicalPlan = {
    plan.setAnalyzed()
    plan
  }
}

package graft.runtime

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** The engine's only materialisation policy: how an intermediate table is
  * cut from its lineage, and when a counted table may be broadcast.
  * Operators and queries call these instead of spelling the policy out,
  * so changing it (say, a reliable checkpoint once executor loss matters:
  * a local checkpoint's blocks die with their executor and cannot be
  * recomputed) is an edit to this file alone.
  */
object Materialize {

  /** Row limit for a count-guarded broadcast: a side at or under it is
    * shipped to every executor, a larger one falls back to a shuffle join
    * rather than risk a driver OOM.
    */
  val MaxBroadcastRows = 2000000L

  /** Eager seam: `df.transform(Materialize.seam)` computes `df` now and
    * reads it back from executor-local blocks, so downstream plans stay
    * linear and every consumer shares one computation.
    */
  def seam(df: DataFrame): DataFrame = df.localCheckpoint()

  /** [[seam]] deferred to the first action that reads the result. */
  def lazySeam(df: DataFrame): DataFrame = df.localCheckpoint(eager = false)

  /** Counts `counted` once, now, and returns the side transform for the
    * joins it guards: `broadcast` while the count is at most `limit`,
    * `otherwise` (default: leave the plan to the optimizer) above it.
    * Materialized inputs carry no usable size statistics, so without the
    * explicit count the planner never broadcasts them. `counted` should
    * be a materialized (cheap-to-count) table.
    */
  def broadcastIfFits(counted: DataFrame, limit: Long = MaxBroadcastRows,
                      otherwise: DataFrame => DataFrame = identity)
      : DataFrame => DataFrame =
    if (counted.count() <= limit) df => broadcast(df) else otherwise
}

package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.OutputMode

/** transformWithState (state API v2) example: per-key running (count,
  * sum) in one typed [[KeyedFold]] value. This is the forward path for
  * B14 arbitrary state — unlike mapGroupsWithState, state variables are
  * named/typed/evolvable.
  */
object RunningCountProcessor {
  /** Wire the counts onto a (key, value) stream. */
  def apply(ds: Dataset[(Long, Double)]): Dataset[(Long, Long, Double)] = {
    import ds.sparkSession.implicits._
    KeyedFold(ds)(_._1, "count", Encoders.product[(Long, Double)],
        OutputMode.Update()) { (key, st, rows) =>
      var (c, s) = st.getOrElse((0L, 0.0))
      rows.foreach { case (_, v) => c += 1; s += v }
      ((c, s), Iterator.single((key, c, s)))
    }
  }
}

package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode}

/** transformWithState (state API v2) example: per-key running counts with
  * typed ValueState. This is the forward path for B14 arbitrary state —
  * unlike mapGroupsWithState, state variables are named/typed/evolvable.
  */
class RunningCountProcessor extends StatefulProcessor[Long, (Long, Double), (Long, Long, Double)] {
  @transient private var count: org.apache.spark.sql.streaming.ValueState[Long] = _
  @transient private var sum: org.apache.spark.sql.streaming.ValueState[Double] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    count = getHandle.getValueState[Long]("count", Encoders.scalaLong,
      org.apache.spark.sql.streaming.TTLConfig.NONE)
    sum = getHandle.getValueState[Double]("sum", Encoders.scalaDouble,
      org.apache.spark.sql.streaming.TTLConfig.NONE)
  }

  override def handleInputRows(key: Long, rows: Iterator[(Long, Double)],
      timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[(Long, Long, Double)] = {
    var c = if (count.exists()) count.get() else 0L
    var s = if (sum.exists()) sum.get() else 0.0
    rows.foreach { case (_, v) => c += 1; s += v }
    count.update(c)
    sum.update(s)
    Iterator.single((key, c, s))
  }
}

object RunningCountProcessor {
  /** Wire the processor onto a (key, value) stream. */
  def apply(ds: Dataset[(Long, Double)]): Dataset[(Long, Long, Double)] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_._1)
      .transformWithState(new RunningCountProcessor,
        TimeMode.None(), OutputMode.Update())
  }
}

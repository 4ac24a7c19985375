package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TTLConfig, ValueState}

/** Ingest-time twin of the batch CUSUM monitor
  * ([[graft.operators.Changepoint.cusumShift]]) — the standard ONLINE
  * form: the baseline is a TRAINED reference rate supplied as a
  * parameter (the batch op derives it from the full series; a stream
  * cannot see its own future), and the recurrence runs incrementally:
  * S ← max(0, S + x·10⁶ − μ·10⁶ − k·10⁶), alarm while S > h·10⁶.
  *
  * State is ONE long per key (the current S, micro-event units) —
  * RocksDB point read+write per row; within a micro-batch rows apply in
  * tick order so the emission matches the batch recurrence replayed on
  * the same prefix (StreamingSpec pins it). Arithmetic bound: S and the
  * per-row terms stay under 2⁶³ for x, μ up to ~9·10¹² per tick —
  * beyond any per-tick ingest count; S also clamps at 0 and alarms long
  * before the bound.
  *
  * In rows: (key, tick, x). Out rows: (key, tick, x, cusumMicro, alarm).
  *
  * @param muMicro    trained baseline per tick, micro-units (μ·10⁶)
  * @param slackMicro CUSUM allowance per tick, micro-units (k·10⁶)
  * @param hMicro     alarm threshold on S, micro-units
  */
class CusumProcessor(muMicro: Long, slackMicro: Long, hMicro: Long)
    extends StatefulProcessor[String, (String, Long, Long),
      (String, Long, Long, Long, Boolean)] {

  @transient private var cum: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    cum = getHandle.getValueState[Long]("cum", Encoders.scalaLong, TTLConfig.NONE)
  }

  override def handleInputRows(key: String, rows: Iterator[(String, Long, Long)],
      timerValues: org.apache.spark.sql.streaming.TimerValues):
      Iterator[(String, Long, Long, Long, Boolean)] = {
    var s = if (cum.exists()) cum.get() else 0L
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(String, Long, Long, Long, Boolean)]
    for ((_, tick, x) <- rows.toArray.sortBy(_._2)) {
      s = math.max(0L, s + x * 1000000L - muMicro - slackMicro)
      out += ((key, tick, x, s, s > hMicro))
    }
    cum.update(s)
    out.iterator
  }
}

object CusumStream {
  def monitor(ds: Dataset[(String, Long, Long)], muMicro: Long,
              slackMicro: Long, hMicro: Long):
      Dataset[(String, Long, Long, Long, Boolean)] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_._1).transformWithState(
      new CusumProcessor(muMicro, slackMicro, hMicro),
      TimeMode.None(), OutputMode.Append())
  }
}

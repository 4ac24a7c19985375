package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}

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
  */
object CusumStream {
  /** @param muMicro    trained baseline per tick, micro-units (μ·10⁶)
    * @param slackMicro CUSUM allowance per tick, micro-units (k·10⁶)
    * @param hMicro     alarm threshold on S, micro-units
    */
  def monitor(ds: Dataset[(String, Long, Long)], muMicro: Long,
              slackMicro: Long, hMicro: Long):
      Dataset[(String, Long, Long, Long, Boolean)] = {
    import ds.sparkSession.implicits._
    KeyedFold(ds)(_._1, "cum", Encoders.scalaLong) { (key, cum, rows) =>
      var s = cum.getOrElse(0L)
      val out = rows.toArray.sortBy(_._2).map { case (_, tick, x) =>
        s = math.max(0L, s + x * 1000000L - muMicro - slackMicro)
        (key, tick, x, s, s > hMicro)
      }
      (s, out.iterator)
    }
  }
}

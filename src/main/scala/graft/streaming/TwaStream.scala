package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TTLConfig, ValueState}

/** Ingest-time twin of the batch time-weighted average
  * ([[graft.operators.Resample.timeWeightedAvg]]): per-key RUNNING
  * TWA, emitted after every observation. A newer observation closes
  * the held interval (the held value earns heldCents·Δt), then takes
  * over as the holder; the newest observation never contributes
  * weight yet — exactly the batch operator's "last closes the window"
  * rule, so after an IN-ORDER feed the final emission per key equals
  * the batch row over the same observations (StreamingSpec pins the
  * parity). Same-instant re-writes (equal ts, higher id) supersede
  * with zero width, the batch tie rule.
  *
  * State is ONE (ts, id, cents, sumDt, sumNum) record per key
  * (RocksDB-backed, never grows with volume). Arithmetic is exact
  * long cent-micros with Math.addExact/multiplyExact — overflow fails
  * loudly at ≈9.2e18 cent-µs per key (≈10⁶ key-days at 100-cent
  * values) instead of wrapping; the batch operator's DECIMAL(38,0) is
  * the unbounded-headroom path. Values arrive as LONG CENTS — the
  * double→DECIMAL(18,2) conversion belongs to the batch/SQL layer,
  * not per-record stream code. LATE rows (event time at or behind the
  * held observation and not a same-instant supersede) are emitted
  * with the unchanged running stats and do NOT regress state — the
  * monotone contract of the other ingest twins.
  *
  * In/out: (key, tsMicros, id, cents) → (key, tsMicros, id, cents,
  * spanUs, twaCents = Some(sumNum div spanUs) once anything has held).
  */
class TwaProcessor
    extends StatefulProcessor[String, (String, Long, Long, Long),
      (String, Long, Long, Long, Long, Option[Long])] {

  @transient private var st: ValueState[(Long, Long, Long, Long, Long)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    st = getHandle.getValueState[(Long, Long, Long, Long, Long)]("twa",
      Encoders.product[(Long, Long, Long, Long, Long)], TTLConfig.NONE)
  }

  override def handleInputRows(key: String,
      rows: Iterator[(String, Long, Long, Long)],
      timerValues: org.apache.spark.sql.streaming.TimerValues):
      Iterator[(String, Long, Long, Long, Long, Option[Long])] = {
    var cur: Option[(Long, Long, Long, Long, Long)] =
      if (st.exists()) Some(st.get()) else None
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(String, Long, Long, Long, Long, Option[Long])]
    for ((_, ts, id, cents) <- rows.toArray.sortBy(r => (r._2, r._3))) {
      cur match {
        case None =>
          cur = Some((ts, id, cents, 0L, 0L))
        case Some((hTs, hId, hCents, sumDt, sumNum))
            if ts > hTs || (ts == hTs && id > hId) =>
          val dt = Math.subtractExact(ts, hTs)
          cur = Some((ts, id, cents,
            Math.addExact(sumDt, dt),
            Math.addExact(sumNum, Math.multiplyExact(hCents, dt))))
        case _ => // late or duplicate: observe, never regress
      }
      val (_, _, _, sumDt, sumNum) = cur.get
      out += ((key, ts, id, cents, sumDt,
        if (sumDt > 0) Some(sumNum / sumDt) else None))
    }
    cur.foreach(st.update)
    out.iterator
  }
}

object TwaStream {
  def runningTwa(ds: Dataset[(String, Long, Long, Long)]):
      Dataset[(String, Long, Long, Long, Long, Option[Long])] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_._1).transformWithState(new TwaProcessor,
      TimeMode.None(), OutputMode.Append())
  }
}

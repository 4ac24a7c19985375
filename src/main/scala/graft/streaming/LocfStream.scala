package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TTLConfig, ValueState}

/** Ingest-time twin of the batch gap-fill
  * ([[graft.operators.Resample.locfGrid]]): per-key LAST-OBSERVATION
  * enrichment. Every arriving observation is emitted with the previous
  * observation's (ts, id, value) and the gap to it — the streaming form
  * of the as-of self-join that batch pipelines run for delta features
  * (rate of change, time-since-last, staleness flags) — and the state
  * the batch grid would carry forward is exactly what survives here.
  *
  * State is ONE (ts, id, value) triple per key (RocksDB-backed; a hot
  * key costs a point read+write per row, state never grows with volume).
  * Within a micro-batch rows apply in (ts, id) order, so intra-batch
  * chains enrich exactly like the batch lag-window reference
  * (StreamingSpec pins the parity). LATE rows — event time behind the
  * held state — are enriched against the state but do NOT regress it:
  * enrichment is processing-order, monotone, the same contract as the
  * other ingest twins.
  *
  * In/out rows: (key, tsMicros, id, value) →
  * (key, tsMicros, id, value, prev = Some((prevTs, prevId, prevValue)),
  * gapMicros = Some(ts - prevTs)) — None for a key's first observation.
  */
class LocfProcessor
    extends StatefulProcessor[String, (String, Long, Long, Double),
      (String, Long, Long, Double, Option[(Long, Long, Double)], Option[Long])] {

  @transient private var last: ValueState[(Long, Long, Double)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    last = getHandle.getValueState[(Long, Long, Double)]("last",
      Encoders.product[(Long, Long, Double)], TTLConfig.NONE)
  }

  override def handleInputRows(key: String,
      rows: Iterator[(String, Long, Long, Double)],
      timerValues: org.apache.spark.sql.streaming.TimerValues):
      Iterator[(String, Long, Long, Double, Option[(Long, Long, Double)], Option[Long])] = {
    var st: Option[(Long, Long, Double)] =
      if (last.exists()) Some(last.get()) else None
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(String, Long, Long, Double, Option[(Long, Long, Double)], Option[Long])]
    for ((_, ts, id, v) <- rows.toArray.sortBy(r => (r._2, r._3))) {
      out += ((key, ts, id, v, st, st.map(p => ts - p._1)))
      // monotone: only a strictly newer (ts, id) replaces the observation
      val newer = st.forall(p => ts > p._1 || (ts == p._1 && id > p._2))
      if (newer) st = Some((ts, id, v))
    }
    st.foreach(last.update)
    out.iterator
  }
}

object LocfStream {
  def enrichWithPrev(ds: Dataset[(String, Long, Long, Double)]):
      Dataset[(String, Long, Long, Double, Option[(Long, Long, Double)], Option[Long])] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_._1).transformWithState(new LocfProcessor,
      TimeMode.None(), OutputMode.Append())
  }
}

package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TTLConfig, ValueState}

/** Ingest-time twin of the batch burstiness monitor
  * ([[graft.operators.Burstiness.interArrivalCv2]]): the stateful part
  * of that operator is GAP EXTRACTION — each event's distance to its
  * predecessor within the same (entity, group) — and that is what this
  * processor does online, holding exactly ONE long per key (the last
  * event's timestamp; the CusumStream state-shape contract). The CV²
  * pooling is a plain combinable aggregate over the emitted gap rows,
  * shared verbatim with the batch operator
  * ([[graft.operators.Burstiness.cv2FromGaps]]), so batch == stream
  * reduces to the gap multiset matching — StreamingSpec pins it
  * including shuffled within-batch arrival, batch splits, and a
  * checkpoint restart.
  *
  * Ordering contract (same as CusumStream): within a micro-batch rows
  * apply in (ts, tie) order; across batches arrival must respect event
  * order per key — a late row would difference against the held newer
  * timestamp (producing a negative gap) rather than silently
  * re-sorting history the state no longer holds.
  *
  * In rows: (entity, group, tsMicros, tie).
  * Out rows: (entity, group, tsMicros, gapMicros) — one per input row
  * that has a predecessor.
  */
class GapProcessor
    extends StatefulProcessor[(String, String), (String, String, Long, Long),
      (String, String, Long, Long)] {

  @transient private var last: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    last = getHandle.getValueState[Long]("last", Encoders.scalaLong, TTLConfig.NONE)
  }

  override def handleInputRows(key: (String, String),
      rows: Iterator[(String, String, Long, Long)],
      timerValues: org.apache.spark.sql.streaming.TimerValues):
      Iterator[(String, String, Long, Long)] = {
    var prev = if (last.exists()) Some(last.get()) else None
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, Long, Long)]
    for (r <- rows.toArray.sortBy(x => (x._3, x._4))) {
      prev.foreach(p => out += ((key._1, key._2, r._3, r._3 - p)))
      prev = Some(r._3)
    }
    prev.foreach(last.update)
    out.iterator
  }
}

object BurstinessStream {
  def gaps(ds: Dataset[(String, String, Long, Long)]):
      Dataset[(String, String, Long, Long)] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(r => (r._1, r._2)).transformWithState(
      new GapProcessor, TimeMode.None(), OutputMode.Append())
  }
}

package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}

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
object BurstinessStream {
  def gaps(ds: Dataset[(String, String, Long, Long)]):
      Dataset[(String, String, Long, Long)] = {
    import ds.sparkSession.implicits._
    KeyedFold(ds)(r => (r._1, r._2), "last", Encoders.scalaLong) {
      (key, last, rows) =>
        var prev = last
        val out = rows.toArray.sortBy(x => (x._3, x._4)).flatMap { r =>
          val gap = prev.map(p => (key._1, key._2, r._3, r._3 - p))
          prev = Some(r._3)
          gap
        }
        (prev.get, out.iterator)
    }
  }
}

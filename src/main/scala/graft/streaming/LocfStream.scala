package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}

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
object LocfStream {
  def enrichWithPrev(ds: Dataset[(String, Long, Long, Double)]):
      Dataset[(String, Long, Long, Double, Option[(Long, Long, Double)], Option[Long])] = {
    import ds.sparkSession.implicits._
    KeyedFold(ds)(_._1, "last", Encoders.product[(Long, Long, Double)]) {
      (key, last, rows) =>
        var st = last
        val out = rows.toArray.sortBy(r => (r._2, r._3)).map {
          case (_, ts, id, v) =>
            val row = (key, ts, id, v, st, st.map(p => ts - p._1))
            // monotone: only a strictly newer (ts, id) replaces the
            // observation
            if (st.forall(p => ts > p._1 || (ts == p._1 && id > p._2)))
              st = Some((ts, id, v))
            row
        }
        (st.get, out.iterator)
    }
  }
}

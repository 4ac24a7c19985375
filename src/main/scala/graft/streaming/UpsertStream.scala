package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TTLConfig, ValueState}

/** Ingest-time twin of the batch changelog compaction
  * ([[graft.operators.Changelog.compact]]): per-key latest-wins upsert
  * state. Each micro-batch re-emits the post-batch snapshot row for
  * every key it touched — live rows as upserts, tombstoned keys as
  * live=false retraction notices — so a downstream sink maintaining a
  * materialized table applies exactly what changed.
  *
  * State is ONE (ts, seq, op, value, nChanges) record per key
  * (RocksDB-backed, never grows with change volume). Only a strictly
  * greater (ts, seq, op, value) — the batch compactShaped struct-max
  * order, exact (ts, seq) duplicates falling through to (op, value)
  * lexicographic comparison — replaces the held winner;
  * late/out-of-order change records still COUNT (n_changes tracks
  * arrivals, the batch count(*) contract) but cannot regress the
  * snapshot. Batch == stream parity under any arrival order is pinned
  * in StreamingSpec, including delete-then-reinsert and duplicate
  * (ts, seq) stamps.
  *
  * In rows: (key, tsMicros, seq, op, value).
  * Out rows: (key, tsMicros, seq, value, live, nChanges).
  */
class UpsertProcessor(deleteOp: String)
    extends StatefulProcessor[String, (String, Long, Long, String, Long),
      (String, Long, Long, Long, Boolean, Long)] {

  @transient private var win: ValueState[(Long, Long, String, Long, Long)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    win = getHandle.getValueState[(Long, Long, String, Long, Long)]("win",
      Encoders.product[(Long, Long, String, Long, Long)], TTLConfig.NONE)
  }

  override def handleInputRows(key: String,
      rows: Iterator[(String, Long, Long, String, Long)],
      timerValues: org.apache.spark.sql.streaming.TimerValues):
      Iterator[(String, Long, Long, Long, Boolean, Long)] = {
    var st: Option[(Long, Long, String, Long, Long)] =
      if (win.exists()) Some(win.get()) else None
    for ((_, ts, seq, op, v) <- rows) {
      // Winner rule kept in LOCKSTEP with Changelog.compactShaped's
      // struct-max over (ts, seq, op, value): an exact (ts, seq)
      // duplicate falls through to (op, value) lexicographic order —
      // op compared as UTF-8 bytes (Spark's UTF8String ordering) —
      // instead of arrival order, so batch == stream parity holds
      // under ANY arrival order even for degenerate duplicate stamps.
      // A null op compares as the empty byte string — below every
      // non-empty op, mirroring Spark's nulls-smallest struct-max
      // ordering in the batch twin (and never NPEs here).
      def opBytes(o: String): Array[Byte] =
        if (o == null) Array.emptyByteArray
        else o.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val newer = st.forall { w =>
        ts > w._1 || (ts == w._1 && (seq > w._2 || (seq == w._2 && {
          val c = java.util.Arrays.compareUnsigned(
            opBytes(op), opBytes(w._3))
          c > 0 || (c == 0 && v > w._4)
        })))
      }
      val n = st.map(_._5).getOrElse(0L) + 1L
      st = if (newer) Some((ts, seq, op, v, n))
      else st.map(w => (w._1, w._2, w._3, w._4, n))
    }
    st.foreach(win.update)
    st.iterator.map { case (ts, seq, op, v, n) =>
      (key, ts, seq, v, op != deleteOp, n)
    }
  }
}

object UpsertStream {
  def compact(ds: Dataset[(String, Long, Long, String, Long)],
              deleteOp: String = "D"):
      Dataset[(String, Long, Long, Long, Boolean, Long)] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_._1).transformWithState(
      new UpsertProcessor(deleteOp),
      TimeMode.None(), OutputMode.Append())
  }
}

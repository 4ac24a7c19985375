package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}

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
object UpsertStream {
  def compact(ds: Dataset[(String, Long, Long, String, Long)],
              deleteOp: String = "D"):
      Dataset[(String, Long, Long, Long, Boolean, Long)] = {
    import ds.sparkSession.implicits._
    KeyedFold(ds)(_._1, "win",
        Encoders.product[(Long, Long, String, Long, Long)]) { (key, win, rows) =>
      var st = win
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
      val held @ (ts, seq, op, v, n) = st.get
      (held, Iterator.single((key, ts, seq, v, op != deleteOp, n)))
    }
  }
}

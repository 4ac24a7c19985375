package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}

/** Ingest-time twin of the batch RFM census
  * ([[graft.operators.Rfm.rfmCensus]], B92): purchase events
  * (user, tsMicros, cents) arrive as they happen and the per-user
  * (last_ts, frequency, monetary-cents) triple is the stream state —
  * one typed (last_us, f, m_cents) value per user, never row-volume.
  * Each micro-batch re-emits the post-batch triple for every touched
  * user (upsert semantics; a downstream sink keeps the last row per
  * user — frequency is monotone, so last = max).
  *
  * The quintile thresholds and the (r, f, m) cell census are GLOBAL
  * functions of the whole user table, so they stay reader-side:
  * [[graft.operators.Rfm.censusFromUsers]] over the upserted table IS
  * the readout — batch == stream reduces to user-table equality,
  * which holds under any arrival order, batch split, or restart
  * because max/count/sum are pure commutative folds (StreamingSpec
  * pins all three).
  *
  * In rows: (user, tsMicros, cents) — pre-filter nulls (the batch
  * operator drops them; note its recency anchor uses the RAW corpus
  * max ts, so feed the same null-filtered rows for exact parity).
  * Out rows: (user, last_us, f, m_cents). Sums raise on Long overflow
  * rather than wrap (the stream addExact rule).
  */
object RfmStream {
  def users(ds: Dataset[(String, Long, Long)]):
      Dataset[(String, Long, Long, Long)] = {
    import ds.sparkSession.implicits._
    KeyedFold(ds)(_._1, "rfm", Encoders.product[(Long, Long, Long)]) {
      (key, st, rows) =>
        var (last, f, m) = st.getOrElse((Long.MinValue, 0L, 0L))
        for ((_, ts, cents) <- rows) {
          if (ts > last) last = ts
          f = Math.addExact(f, 1L)
          m = Math.addExact(m, cents)
        }
        ((last, f, m), Iterator.single((key, last, f, m)))
    }
  }
}

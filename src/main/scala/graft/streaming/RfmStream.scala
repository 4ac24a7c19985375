package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor, TimeMode, TTLConfig}

/** Ingest-time twin of the batch RFM census
  * ([[graft.operators.Rfm.rfmCensus]], B92): purchase events
  * (user, tsMicros, cents) arrive as they happen and the per-user
  * (last_ts, frequency, monetary-cents) triple is the stream state —
  * three longs per user, never row-volume. Each micro-batch re-emits
  * the post-batch triple for every touched user (upsert semantics; a
  * downstream sink keeps the last row per user — frequency is
  * monotone, so last = max).
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
class RfmProcessor
    extends StatefulProcessor[String, (String, Long, Long),
      (String, Long, Long, Long)] {

  @transient private var st: ListState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getListState[Long]("rfm", Encoders.scalaLong, TTLConfig.NONE)

  override def handleInputRows(key: String,
      rows: Iterator[(String, Long, Long)],
      timerValues: org.apache.spark.sql.streaming.TimerValues):
      Iterator[(String, Long, Long, Long)] = {
    // state layout: [last_us, f, m_cents]
    val raw = st.get().toArray
    if (raw.nonEmpty && raw.length != 3)
      throw new IllegalStateException(
        s"RfmStream state for user '$key' has ${raw.length} slots " +
          "(expected 3) — corrupt or written by another processor; " +
          "restart from a fresh checkpoint")
    var last = if (raw.isEmpty) Long.MinValue else raw(0)
    var f = if (raw.isEmpty) 0L else raw(1)
    var m = if (raw.isEmpty) 0L else raw(2)
    for ((_, ts, cents) <- rows) {
      if (ts > last) last = ts
      f = Math.addExact(f, 1L)
      m = Math.addExact(m, cents)
    }
    st.clear(); Seq(last, f, m).foreach(st.appendValue)
    Iterator.single((key, last, f, m))
  }
}

object RfmStream {
  def users(ds: Dataset[(String, Long, Long)]):
      Dataset[(String, Long, Long, Long)] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_._1).transformWithState(
      new RfmProcessor, TimeMode.None(),
      OutputMode.Append())
  }
}

package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TTLConfig, ValueState}

/** Ingest-time twin of the batch SCD2 history
  * ([[graft.operators.Changelog.scd2]]): the version-tracking op a CDC
  * ingest pipeline runs continuously. State holds ONLY the OPEN
  * version per key (plus the change counter and the last applied
  * stamp) — closed history lives downstream, so state never grows with
  * a key's change volume.
  *
  * Per applied change the processor emits close+open rows: a non-delete
  * change CLOSES the held version (same (key, version), valid_to = the
  * new change's ts, is_current = false) and OPENS its own (valid_to
  * null, is_current = true); a delete closes without opening. A sink
  * upserting on (key, version) therefore converges to exactly the
  * batch scd2 table — StreamingSpec pins batch == stream parity and
  * checkpoint-restart. Version numbers count ALL changes in (ts, seq)
  * order, deletes included — the batch rule, so numbering is stable
  * under later filtering.
  *
  * Ordering contract: intra-batch rows are applied in (ts, seq, op,
  * value) order (any arrival order within a micro-batch is fine);
  * ACROSS batches a key's changes must arrive with nondecreasing
  * (ts, seq) — the natural order of a CDC log read from its source.
  * A cross-batch late row cannot rewrite history already emitted
  * downstream, so it is DROPPED (never applied, never counted); the
  * batch operator is the recovery path when a log is replayed out of
  * order. Exact duplicate (ts, seq) stamps are a [[Changelog.scd2]]
  * input-contract violation there too (its window order is (ts, seq));
  * here the deterministic intra-batch sort applies them in (op, value)
  * order.
  *
  * In rows: (key, tsMicros, seq, op, value).
  * Out rows: (key, value, valid_from, valid_to, version, is_current).
  */
class Scd2Processor(deleteOp: String)
    extends StatefulProcessor[String, (String, Long, Long, String, Long),
      (String, Long, Long, Option[Long], Long, Boolean)] {

  // (lastTs, lastSeq, nChanges, openFrom, openVersion, openValue, hasOpen)
  @transient private var st
      : ValueState[(Long, Long, Long, Long, Long, Long, Boolean)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    st = getHandle.getValueState[(Long, Long, Long, Long, Long, Long, Boolean)](
      "scd2", Encoders.product[(Long, Long, Long, Long, Long, Long, Boolean)],
      TTLConfig.NONE)
  }

  override def handleInputRows(key: String,
      rows: Iterator[(String, Long, Long, String, Long)],
      timerValues: org.apache.spark.sql.streaming.TimerValues):
      Iterator[(String, Long, Long, Option[Long], Long, Boolean)] = {
    var (lastTs, lastSeq, n, openFrom, openVer, openVal, hasOpen) =
      if (st.exists()) st.get()
      else (Long.MinValue, Long.MinValue, 0L, 0L, 0L, 0L, false)
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(String, Long, Long, Option[Long], Long, Boolean)]
    // null op sorts as "" (Ordering[String] NPEs on null) and below
    // behaves like a delete — the batch twin's `op =!= deleteOp`
    // filter drops null-op rows while their ts still closes the prior
    // version, exactly the delete shape.
    val ordered = rows.toArray.sortBy(r =>
      (r._2, r._3, if (r._4 == null) "" else r._4, r._5))
    for ((_, ts, seq, op, v) <- ordered) {
      val fresh = ts > lastTs || (ts == lastTs && seq > lastSeq)
      if (fresh) {
        n += 1L
        if (hasOpen) {
          // the held version closes at this change's ts — emit the
          // corrected row so a (key, version)-keyed sink supersedes
          // the open form it applied earlier
          out += ((key, openVal, openFrom, Some(ts), openVer, false))
          hasOpen = false
        }
        if (op != null && op != deleteOp) {
          openFrom = ts; openVer = n; openVal = v; hasOpen = true
          out += ((key, v, ts, None, n, true))
        }
        lastTs = ts; lastSeq = seq
      } // late cross-batch row: dropped, see the ordering contract
    }
    st.update((lastTs, lastSeq, n, openFrom, openVer, openVal, hasOpen))
    out.iterator
  }
}

object Scd2Stream {
  /** Wire the processor onto a (key, ts, seq, op, value) change
    * stream; emissions upsert a (key, version)-keyed SCD2 table.
    */
  def history(ds: Dataset[(String, Long, Long, String, Long)],
              deleteOp: String = "D"):
      Dataset[(String, Long, Long, Option[Long], Long, Boolean)] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_._1).transformWithState(
      new Scd2Processor(deleteOp),
      TimeMode.None(), OutputMode.Append())
  }
}

package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor, TimeMode, TTLConfig}

/** Ingest-time twin of the batch ranked-retrieval readout
  * ([[graft.operators.Evaluation.rankingReport]], B110/q283): result
  * rows (query, rank, is_relevant) arrive as retrieval verdicts land —
  * a live search-quality dashboard — and the per-query rank slots are
  * the stream state: exactly `k` longs per query (0 = unseen,
  * 1 = non-relevant, 2 = relevant) plus a fingerprint header, k-bounded
  * regardless of row volume or arrival order.
  *
  * Each micro-batch re-emits, for every touched query, the PARTIAL
  * metric row derived from its slots — (query, n_seen, n_rel_k,
  * first_rel_rank — 0 while none, ap_numerator_ppm) — upsert
  * semantics (the [[AgreementStream]] pattern; a downstream sink keeps
  * the last row per query). Recall/AP denominators need the per-query
  * relevant-total table, which is reader-side by design:
  * [[graft.operators.Evaluation.reportFromPartials]] over the upserted
  * table IS the readout, and batch == stream reduces to slot-table
  * equality, which holds under any arrival order, batch split, or
  * restart because slot writes are idempotent per (query, rank)
  * (StreamingSpec pins all three plus the changed-k refusal).
  *
  * Re-delivered (query, rank) rows overwrite their slot (idempotent —
  * the [[UpsertStream]] convention); ranks outside [1, k] are ignored
  * (the batch operator's input contract is "the top-k rows per
  * query").
  *
  * In rows: (query, rank, isRelevant). Out rows: (query, n_seen,
  * n_rel_k, first_rel_rank, ap_numerator_ppm).
  */
class RankingEvalProcessor(k: Int)
    extends StatefulProcessor[String, (String, Long, Boolean),
      (String, Long, Long, Long, Long)] {

  require(k >= 1 && k <= 1024,
    s"k must be in [1, 1024] (k longs of state per query), got $k")

  // k is the semantics the slots were written under — a restart with a
  // different k must refuse, not reinterpret slot positions
  private val fp: Long =
    SeqPatternsStream.alphabetFingerprint(Seq("rankeval"), k.toLong)

  @transient private var st: ListState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getListState[Long]("slots", Encoders.scalaLong, TTLConfig.NONE)

  override def handleInputRows(key: String,
      rows: Iterator[(String, Long, Boolean)],
      timerValues: org.apache.spark.sql.streaming.TimerValues):
      Iterator[(String, Long, Long, Long, Long)] = {
    // state layout: [fp, slot_1 .. slot_k]
    val raw = st.get().toArray
    val fresh = raw.isEmpty
    if (!fresh && (raw.length != k + 1 || raw(0) != fp))
      throw SeqPatternsStream.stateContractError("RankingEvalStream",
        key, "k", fp, s"${k + 1}", raw.length.toString, raw.headOption)
    val slots = if (fresh) Array.fill(k)(0L) else raw.tail
    for ((_, r, rel) <- rows)
      if (r >= 1L && r <= k.toLong) slots(r.toInt - 1) = if (rel) 2L else 1L
    st.clear(); st.appendValue(fp); slots.foreach(st.appendValue)
    // derive the partials in rank order — the same running-hits fold
    // the batch window computes
    var hits = 0L; var apn = 0L; var firstRel = 0L; var nSeen = 0L
    var i = 0
    while (i < k) {
      val s = slots(i)
      if (s != 0L) nSeen += 1
      if (s == 2L) {
        hits += 1
        if (firstRel == 0L) firstRel = i + 1L
        apn += 1000000L * hits / (i + 1L)
      }
      i += 1
    }
    Iterator.single((key, nSeen, hits, firstRel, apn))
  }
}

object RankingEvalStream {
  def partials(ds: Dataset[(String, Long, Boolean)], k: Int):
      Dataset[(String, Long, Long, Long, Long)] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_._1).transformWithState(
      new RankingEvalProcessor(k), TimeMode.None(),
      OutputMode.Append())
  }
}

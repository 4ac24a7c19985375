package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}

/** Ingest-time twin of the batch ranked-retrieval readout
  * ([[graft.operators.Evaluation.rankingReport]], B110/q283): result
  * rows (query, rank, is_relevant) arrive as retrieval verdicts land —
  * a live search-quality dashboard — and the per-query rank slots are
  * the stream state: one typed (fingerprint, slots) value per query,
  * exactly `k` slots (0 = unseen, 1 = non-relevant, 2 = relevant),
  * k-bounded regardless of row volume or arrival order.
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
object RankingEvalStream {
  def partials(ds: Dataset[(String, Long, Boolean)], k: Int):
      Dataset[(String, Long, Long, Long, Long)] = {
    require(k >= 1 && k <= 1024,
      s"k must be in [1, 1024] (k longs of state per query), got $k")
    import ds.sparkSession.implicits._
    // k is the semantics the slots were written under — a restart with a
    // different k must refuse, not reinterpret slot positions
    val fp = SeqPatternsStream.alphabetFingerprint(Seq("rankeval"), k.toLong)
    // (fingerprint, slot_1 .. slot_k)
    KeyedFold(ds)(_._1, "slots", Encoders.product[(Long, Seq[Long])]) {
      (key, st, rows) =>
        st.foreach { case (f, s) =>
          SeqPatternsStream.checkState("RankingEvalStream", key, "k",
            fp, f, Seq(k), Seq(s.length))
        }
        val slots = st.fold(Array.fill(k)(0L))(_._2.toArray)
        for ((_, r, rel) <- rows)
          if (r >= 1L && r <= k.toLong) slots(r.toInt - 1) = if (rel) 2L else 1L
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
        ((fp, slots.toSeq), Iterator.single((key, nSeen, hits, firstRel, apn)))
    }
  }
}

package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}

/** Ingest-time twin of the batch ordered funnel
  * ([[graft.operators.Funnel.orderedFunnel]]): the live funnel
  * dashboard. State per user is ONE record — (stage completed so far,
  * that stage's (ts, seq) stamp) — and each micro-batch advances the
  * user through as many consecutive steps as its events allow,
  * emitting one row per step completion with the exact leg gap.
  * A sink counting emissions per stage (and aggregating gaps) holds
  * exactly the batch operator's n_reached / leg-latency inputs —
  * StreamingSpec pins the parity and checkpoint-restart.
  *
  * Semantics in LOCKSTEP with the batch side: stage i completes at the
  * FIRST event of its type strictly after the stage-(i−1) stamp in
  * (ts, seq) order (earliest completion; one event never satisfies two
  * steps; same-instant events order by seq). Intra-batch rows are
  * applied in (ts, seq) order, so any arrival order WITHIN a batch is
  * fine; ACROSS batches a user's events must arrive with nondecreasing
  * (ts, seq) — the [[Scd2Stream]] CDC-order contract — because an
  * already-emitted completion cannot be retracted; the batch operator
  * is the replay path for an out-of-order log.
  *
  * In rows: (user, tsMicros, seq, eventType).
  * Out rows: (user, stage_idx [1-based], step, tsMicros,
  * gap_micros — from the previous stage's stamp; null for stage 1).
  */
object FunnelStepsStream {
  def track(ds: Dataset[(String, Long, Long, String)], steps: Seq[String]):
      Dataset[(String, Long, String, Long, Option[Long])] = {
    require(steps.nonEmpty && steps.distinct.size == steps.size,
      s"steps must be non-empty and distinct: $steps")
    import ds.sparkSession.implicits._
    val arr = steps.toArray
    // (stageDone, stampTs, stampSeq)
    KeyedFold(ds)(_._1, "funnel", Encoders.product[(Long, Long, Long)]) {
      (key, st, rows) =>
        var (stage, sTs, sSeq) =
          st.getOrElse((0L, Long.MinValue, Long.MinValue))
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(String, Long, String, Long, Option[Long])]
        for ((_, ts, seq, ty) <- rows.toArray.sortBy(r => (r._2, r._3))) {
          if (stage < arr.length && ty == arr(stage.toInt) &&
              (ts > sTs || (ts == sTs && seq > sSeq))) {
            val gap = if (stage == 0L) None else Some(ts - sTs)
            stage += 1L
            out += ((key, stage, ty, ts, gap))
            sTs = ts; sSeq = seq
          }
        }
        ((stage, sTs, sSeq), out.iterator)
    }
  }
}

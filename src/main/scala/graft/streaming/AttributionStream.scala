package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}

/** Ingest-time twin of the batch multi-touch attribution
  * ([[graft.operators.Attribution.multiTouch]]): per-user JOURNEY state
  * — the pending touches since the last conversion — with credits
  * emitted the moment a conversion arrives, under both models at once.
  *
  * Contracts (each mirrors the batch operator, pinned in
  * StreamingSpec):
  *  - rows apply in (ts, seq) order within a micro-batch; a
  *    cross-batch LATE row (ts not after the last applied conversion)
  *    drops — the CusumStream/Scd2Stream ordering convention (the
  *    batch operator, running retrospectively, has no such rows);
  *  - exact-ts collisions collapse: touches keep the max-seq channel,
  *    conversion values sum (the q219 rule);
  *  - a conversion credits the pending touches within `windowMicros`
  *    (linear + U-shaped ppm, remainder to the earliest — the batch
  *    split rules verbatim) and RESETS the journey (all pending
  *    touches clear: they can never credit a later conversion);
  *  - no surviving touches → one 'direct' row per model.
  *
  * State: one typed (pending touches, lastConversion) value per user,
  * ≤ `maxTouches` pending (ts, seq, channel) records — journey-bounded,
  * never event-volume; `maxTouches` overflow drops the OLDEST touch (the
  * window would age it out of credit anyway for any realistic cap).
  *
  * In rows: (user, tsMicros, seq, channel, isConversion, valueCents).
  * Out rows: (user, convTsMicros, model, channel, creditPpm,
  * valueCents).
  */
object AttributionStream {
  def credits(ds: Dataset[(String, Long, Long, String, Boolean, Long)],
              windowMicros: Long, maxTouches: Int = 1000):
      Dataset[(String, Long, String, String, Long, Long)] = {
    require(windowMicros > 0, "windowMicros must be positive")
    require(maxTouches > 0, "maxTouches must be positive")
    import ds.sparkSession.implicits._
    // (pending (ts, seq, channel) touches, lastConversion stamp)
    KeyedFold(ds)(_._1, "journey",
        Encoders.product[(Seq[(Long, Long, String)], Long)]) {
      (key, st, rows) =>
        val (pending, lastConv) = st.getOrElse((Nil, Long.MinValue))
        val buf = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Long, String)] ++= pending
        var last = lastConv
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(String, Long, String, String, Long, Long)]

        // collapse exact-ts collisions batch-style, then apply in ts order
        val byTs = rows.toArray.groupBy(_._2).toArray.sortBy(_._1)
        for ((ts, group) <- byTs if ts > last) {
          val convs = group.filter(_._5)
          val touches = group.filterNot(_._5)
          if (touches.nonEmpty) {
            val (_, _, seq, ch, _, _) = touches.maxBy(r => (r._3, r._4))
            buf += ((ts, seq, ch))
            if (buf.size > maxTouches) buf.remove(0)
          }
          if (convs.nonEmpty) {
            val cents = convs.map(_._6).sum
            val credited = buf.filter(t => ts - t._1 <= windowMicros)
              .sortBy(t => (t._1, t._2))
            val n = credited.size.toLong
            if (n == 0) {
              out += ((key, ts, "linear", "direct", 1000000L, cents))
              out += ((key, ts, "position", "direct", 1000000L, cents))
            } else {
              credited.zipWithIndex.foreach { case ((_, _, ch), i) =>
                val r = i + 1L
                val lin = 1000000L / n + (if (r == 1L) 1000000L % n else 0L)
                val pos =
                  if (n == 1L) 1000000L
                  else if (n == 2L) 500000L
                  else if (r == 1L || r == n) 400000L
                  else 200000L / (n - 2) +
                    (if (r == 2L) 200000L % (n - 2) else 0L)
                out += ((key, ts, "linear", ch, lin, cents))
                out += ((key, ts, "position", ch, pos, cents))
              }
            }
            buf.clear() // journey reset: nothing pending survives
            last = ts
          }
        }
        ((buf.toSeq, last), out.iterator)
    }
  }
}

package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}

/** Ingest-time twin of the q83 batch funnel: per-user first-signup /
  * first-purchase tracking with a conversion-window verdict, decided
  * and emitted EXACTLY ONCE per user, as soon as both firsts are known.
  * The batch semantics are mirrored precisely: the verdict compares the
  * user's FIRST purchase (global min — a purchase before signup means
  * never-converted) against the FIRST signup, within `windowMicros`.
  *
  * State is one (firstSignup, firstPurchase) pair per user (RocksDB
  * point read+write per row); it lives as long as the query, which is
  * what makes the verdict exactly-once. Within a micro-batch rows apply in
  * (tsMicros, isPurchase) order; arrival is assumed in event order
  * across batches (the ingest-twin contract) — the firsts are fixed at
  * first sighting, so a later duplicate cannot flip a verdict.
  *
  * In rows: (userId, tsMicros, eventType). Out rows:
  * (userId, firstSignupMicros, firstPurchaseMicros, purchasedAfter,
  * converted — purchase after signup within the window).
  */
object FunnelStream {
  def conversions(ds: Dataset[(Long, Long, String)], windowMicros: Long):
      Dataset[(Long, Long, Long, Boolean, Boolean)] = {
    import ds.sparkSession.implicits._
    // (firstSignupMicros | -1, firstPurchaseMicros | -1); emission is
    // implied by both being set when the second one arrives
    KeyedFold(ds)(_._1, "firsts", Encoders.product[(Long, Long)]) {
      (key, st, rows) =>
        var (fs, fp) = st.getOrElse((-1L, -1L))
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Long, Long, Boolean, Boolean)]
        for ((_, ts, tpe) <- rows.toArray.sortBy(r => (r._2, r._3))) {
          val before = fs >= 0L && fp >= 0L
          tpe match {
            case "signup" if fs < 0L => fs = ts
            case "purchase" if fp < 0L => fp = ts
            case _ => // later events never move a first
          }
          if (!before && fs >= 0L && fp >= 0L) {
            val after = fp > fs
            out += ((key, fs, fp, after, after && fp - fs <= windowMicros))
          }
        }
        ((fs, fp), out.iterator)
    }
  }
}

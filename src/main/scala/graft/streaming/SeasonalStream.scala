package graft.streaming

import org.apache.spark.sql.Dataset

/** Ingest-time twin of the batch seasonal Hampel monitor
  * ([[graft.operators.Seasonal.hourOfDayAnomalies]]): per-(key,
  * hour-of-day) median/MAD profile held as stream state, each arriving
  * hourly count re-scored against the profile of ITS OWN slot.
  *
  * The crucial structural fact the twin exploits: the batch profile for
  * a (key, hod) slot depends ONLY on ticks of that same slot — slots
  * are independent. So the processor groups by the composite
  * (key, hod), holds the slot's (tick, count) history, and after every
  * micro-batch RE-EMITS the whole slot's flags under the updated
  * profile (upsert semantics — a downstream sink keeps the last row per
  * (key, tick), the [[OccupancyStream]] pattern). Once a slot's full
  * history has been ingested — in any arrival order, any batch split —
  * its final emissions equal the batch operator's rows EXACTLY
  * (StreamingSpec pins it), because the exact-median/MAD recompute runs
  * on the identical multiset.
  *
  * Counts are additive, so partial hourly counts merge with `+=` (a
  * tick observed across micro-batches accumulates — unlike medians,
  * which is why state holds counts, not profiles). Median/MAD use the
  * batch lower-middle rule (PERCENTILE_DISC rank ceil(m/2) = sorted
  * 0-based index (m-1)/2 — the q225/q253 convention).
  *
  * State bound: `maxTicks` NEWEST ticks per slot (a slot gains one tick
  * per DAY, so the default 730 holds two years of profile); overflow
  * drops the oldest tick — the trailing-window monitoring semantics —
  * and batch parity then holds against the batch operator run on the
  * same trailing window.
  *
  * In rows: (key, tickHour, countDelta).
  * Out rows: (key, tickHour, hod, n, med, mad, isAnomaly) — the full
  * slot re-emission, last-per-(key, tick) wins.
  */
object SeasonalStream {

  private val Hour = 3600L * 1000000L

  /** Wire the profile onto a (key, tickHour, countDelta) stream —
    * the per-hour count rows an upstream windowed count emits (partial
    * counts accumulate). `k` is the Hampel band width (batch default 3).
    */
  def anomalies(ds: Dataset[(String, Long, Long)], k: Long = 3L,
                maxTicks: Int = 730):
      Dataset[(String, Long, Long, Long, Long, Long, Boolean)] = {
    require(k > 0, s"k must be positive, got $k")
    require(maxTicks > 0, s"maxTicks must be positive, got $maxTicks")
    import ds.sparkSession.implicits._
    KeyedFold(ds)({ case (key, tick, _) =>
      key + "\u0000" + (((tick % 24L) + 24L) % 24L)
    }, "slot", newSequenceEncoder[Seq[(Long, Long)]]) { (key, slot, rows) =>
      val sep = key.lastIndexOf('\u0000')
      val userKey = key.substring(0, sep)
      val hod = key.substring(sep + 1).toLong
      val m = scala.collection.mutable.LinkedHashMap.empty[Long, Long]
      slot.foreach(m ++= _)
      rows.foreach { case (_, tick, dn) =>
        m(tick) = m.getOrElse(tick, 0L) + dn
      }
      // trailing window: keep the newest maxTicks ticks
      val kept = m.toArray.sortBy(_._1).takeRight(maxTicks)
      val vals = kept.map(_._2).sorted
      val med = vals((vals.length - 1) / 2)
      val devs = kept.map { case (_, n) => math.abs(n - med) }.sorted
      val mad = devs((devs.length - 1) / 2)
      (kept.toSeq, kept.iterator.map { case (t, n) =>
        (userKey, t, hod, n, med, mad, math.abs(n - med) > mad * k)
      })
    }
  }

  /** Raw event rows (key, tsMicros) → the (key, tickHour, +1) delta rows
    * [[anomalies]] consumes — the stream-side analogue of the batch
    * operator's tick aggregation (truncating div, the batch tick rule).
    */
  def ticksFromEvents(ds: Dataset[(String, Long)]):
      Dataset[(String, Long, Long)] = {
    import ds.sparkSession.implicits._
    ds.map { case (key, us) => (key, us / Hour, 1L) }
  }
}

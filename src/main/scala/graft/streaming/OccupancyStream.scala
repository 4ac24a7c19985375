package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}

/** Ingest-time twin of the batch sweep-line occupancy
  * ([[graft.operators.Intervals.hourlyCoverage]]): maintains the
  * per-tick boundary-delta table as versions open and close, so the
  * concurrency curve is always one calendar-bounded cumsum away —
  * never a re-scan of interval history.
  *
  * The stream is keyed by the TICK (epoch hours), state is one running
  * delta long per tick — calendar-bounded keys, constant-size state,
  * fully ORDER-INDEPENDENT (addition commutes; a late boundary adjusts
  * its tick exactly as if it had arrived first — no monotonicity
  * caveat). Each micro-batch re-emits the post-batch total for every
  * touched tick; a sink upserting on tick holds exactly the batch
  * operator's delta table (zero-total ticks upsert to 0, the batch
  * side's filtered-out rows), and the n_open curve is the running sum
  * over it — LOCF-readable between change ticks, the batch contract.
  *
  * Composes with [[Scd2Stream]]: an OPEN emission contributes
  * (ceil(valid_from), +1); a CLOSE emission contributes ONLY
  * (ceil(valid_to), -1) — its +1 already counted when it opened.
  * [[boundaries]] applies the same exact integer micro-ceiling as the
  * batch operator, and drops null-from rows entirely (both legs — the
  * hourlyCoverage null policy).
  *
  * In rows: (tickHour, delta). Out per touched tick per batch:
  * (tick_hour, delta) — the tick's cumulative boundary sum.
  */
object OccupancyStream {

  private val BucketUs = 3600L * 1000000L

  /** Interval rows → boundary-delta rows under the batch operator's
    * exact integer micro-ceiling: +1 at ceil(from), -1 at ceil(to)
    * when present. A null `from` drops the WHOLE row (both legs — the
    * [[graft.operators.Intervals.hourlyCoverage]] null policy); a null
    * `to` is an open-forever interval (+1 only).
    */
  def boundaries(ds: Dataset[(Option[Long], Option[Long])]):
      Dataset[(Long, Long)] = {
    import ds.sparkSession.implicits._
    // Plain Scala `/` truncates toward zero exactly like Spark's div in
    // the batch operator — floorDiv would disagree by one tick on
    // pre-1970 (negative-micros) boundaries, breaking the documented
    // exact batch/stream ceiling parity.
    ds.flatMap {
      case (Some(f), t) =>
        val open = ((f + BucketUs - 1L) / BucketUs, 1L)
        t match {
          case Some(to) =>
            Seq(open, ((to + BucketUs - 1L) / BucketUs, -1L))
          case None => Seq(open)
        }
      case _ => Seq.empty
    }
  }

  /** Wire the per-tick totals onto a (tick, delta) boundary stream;
    * emissions upsert the per-tick delta table whose running sum is
    * the occupancy curve.
    */
  def tickDeltas(ds: Dataset[(Long, Long)]): Dataset[(Long, Long)] = {
    import ds.sparkSession.implicits._
    KeyedFold(ds)(_._1, "total", Encoders.scalaLong) { (key, total, rows) =>
      var t = total.getOrElse(0L)
      rows.foreach { case (_, d) => t = Math.addExact(t, d) }
      (t, Iterator.single((key, t)))
    }
  }
}

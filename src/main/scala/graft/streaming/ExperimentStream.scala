package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}

/** Ingest-time twin of the batch A/B readout
  * ([[graft.operators.Experiment.conversionLift]]): per-variant running
  * (units, conversions) with the same exact-ppm rate and pinned-IEEE
  * Wilson bounds, re-emitted once per micro-batch that touches the
  * variant — the live experiment dashboard shape. State is two longs
  * per variant; counting is addition, so the twin is fully
  * ORDER-INDEPENDENT (no late-data caveat). Lift/significance stay
  * read-side: they compare TWO variants' states, which is a join over
  * the (tiny) emitted variant table, not a per-key update.
  *
  * The caller owns unit dedup (the batch operator's contract): feed
  * one row per experiment unit, e.g. from an upstream
  * first-seen-dedup processor.
  *
  * In rows: (variant, converted). Out per touched variant per batch:
  * (variant, n, conversions, rate_ppm, wilson_lo_ppm, wilson_hi_ppm).
  */
object ExperimentStream {
  def conversions(ds: Dataset[(String, Boolean)]):
      Dataset[(String, Long, Long, Long, Long, Long)] = {
    import ds.sparkSession.implicits._
    KeyedFold(ds)(_._1, "counts", Encoders.product[(Long, Long)]) {
      (key, st, rows) =>
        var (n, conv) = st.getOrElse((0L, 0L))
        rows.foreach { case (_, c) => n += 1L; if (c) conv += 1L }
        val (lo, hi) = graft.operators.Experiment.wilsonPpmRef(conv, n)
        ((n, conv),
          Iterator.single((key, n, conv, (conv * 1000000L) / n, lo, hi)))
    }
  }
}

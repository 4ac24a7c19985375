package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TTLConfig, ValueState}

/** Ingest-time twin of the batch histogram-drift monitor
  * ([[graft.operators.Profile.histogramDrift]]): per-bin (n_a, n_b)
  * counts as stream state, each micro-batch re-emitting the post-batch
  * counts for every bin it touched — upsert semantics, a downstream
  * sink keeps the last row per bin (the [[OccupancyStream]] pattern).
  *
  * The ppm masses and the total-variation distance are GLOBAL
  * functions of the whole bin table (they need every bin's totals), so
  * they stay reader-side: the batch operator's arithmetic over the
  * upserted table IS the readout (spec-pinned — the upserted counts
  * equal the batch side's bin table exactly once the same rows have
  * flowed through, under any arrival order, batch split, or restart,
  * because counts are pure commutative sums).
  *
  * State: two longs per OBSERVED bin — histogram-bounded, never
  * event-volume. In rows: (bin, isA, countDelta); use
  * [[HistDriftStream.binsFromValues]] to bin raw (isA, value) rows
  * with the batch operator's exact floor semantics.
  *
  * Out rows: (bin, n_a, n_b).
  */
class HistBinProcessor
    extends StatefulProcessor[Long, (Long, Boolean, Long),
      (Long, Long, Long)] {

  @transient private var counts: ValueState[(Long, Long)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    counts = getHandle.getValueState[(Long, Long)]("counts",
      Encoders.product[(Long, Long)], TTLConfig.NONE)
  }

  override def handleInputRows(key: Long,
      rows: Iterator[(Long, Boolean, Long)],
      timerValues: org.apache.spark.sql.streaming.TimerValues):
      Iterator[(Long, Long, Long)] = {
    var (na, nb) = if (counts.exists()) counts.get() else (0L, 0L)
    rows.foreach { case (_, isA, dn) =>
      if (isA) na += dn else nb += dn
    }
    counts.update((na, nb))
    Iterator.single((key, na, nb))
  }
}

object HistDriftStream {

  /** Wire the processor onto a (bin, isA, countDelta) stream. */
  def bins(ds: Dataset[(Long, Boolean, Long)]):
      Dataset[(Long, Long, Long)] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_._1).transformWithState(
      new HistBinProcessor, TimeMode.None(),
      OutputMode.Append())
  }

  /** Raw (isA, value) rows → (bin, isA, +1) deltas under the batch
    * operator's exact FLOOR binning (Math.floorDiv == the batch
    * remainder-strip floor for any sign).
    */
  def binsFromValues(ds: Dataset[(Boolean, Long)], binWidth: Long):
      Dataset[(Long, Boolean, Long)] = {
    require(binWidth > 0, s"binWidth must be positive, got $binWidth")
    import ds.sparkSession.implicits._
    ds.map { case (isA, v) => (Math.floorDiv(v, binWidth), isA, 1L) }
  }
}

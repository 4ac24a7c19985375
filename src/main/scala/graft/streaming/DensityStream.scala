package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TTLConfig, ValueState}

/** Ingest-time twin of the batch grid-density census
  * ([[graft.operators.Density.gridDbscanCensus]]): the occupied GRID
  * CELLS are the stream state — one (count, idSum) pair per cell,
  * grid-bounded, never row-volume — and each micro-batch re-emits the
  * post-batch pair for every cell it touched (upsert semantics, the
  * HistDriftStream pattern; a downstream sink keeps the last row per
  * cell — counts and, under the non-negative-id contract, id sums are
  * monotone, so last = max).
  *
  * The core/border/noise labels are a GLOBAL function of the whole
  * cell table (every cell's block needs its neighbours), so they stay
  * reader-side: [[graft.operators.Density.censusFromCells]] over the
  * upserted table IS the readout — batch == stream reduces to
  * cell-table equality, which holds under any arrival order, batch
  * split, or restart because cell counts are pure commutative sums
  * (StreamingSpec pins all three). Quantize ingest rows with the
  * shared [[graft.operators.Density.pointCells]] so both sides bucket
  * identically.
  *
  * Pinned to the graded 2-d grid (the q301 shape). In rows:
  * (id, c0, c1) with id ≥ 0. Out rows: (c0, c1, n, idSum).
  */
class DensityCellProcessor
    extends StatefulProcessor[(Long, Long), (Long, Long, Long),
      (Long, Long, Long, Long)] {

  @transient private var st: ValueState[(Long, Long)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    st = getHandle.getValueState[(Long, Long)]("cell",
      Encoders.product[(Long, Long)], TTLConfig.NONE)
  }

  override def handleInputRows(key: (Long, Long),
      rows: Iterator[(Long, Long, Long)],
      timerValues: org.apache.spark.sql.streaming.TimerValues):
      Iterator[(Long, Long, Long, Long)] = {
    val (n0, s0) = if (st.exists()) st.get() else (0L, 0L)
    var n = n0; var s = s0
    for ((id, _, _) <- rows) {
      // The documented reader contract (upsert-by-MAX in
      // censusFromCells) needs idSum monotone, which only holds for
      // non-negative ids — enforce it at ingest instead of letting the
      // sink's last-row-per-cell silently diverge from the true sum.
      if (id < 0) throw new IllegalArgumentException(
        s"DensityStream requires non-negative ids (idSum monotonicity " +
          s"contract); got $id in cell $key")
      n += 1
      // overflow-checked: the batch side accumulates id sums in
      // DECIMAL(38,0) and raises on a BIGINT overflow — a silent Long
      // wrap here would be the exact batch/stream divergence that
      // guard exists to prevent (and a wrapped negative sum also
      // breaks the last-row-per-cell = max sink contract)
      s = try Math.addExact(s, id)
      catch { case _: ArithmeticException =>
        throw new IllegalStateException(
          s"DensityStream cell $key idSum overflows BIGINT — the batch " +
            "twin raises on the same corpus; re-key or rescale the ids")
      }
    }
    st.update((n, s))
    Iterator.single((key._1, key._2, n, s))
  }
}

object DensityStream {
  def cells(ds: Dataset[(Long, Long, Long)]):
      Dataset[(Long, Long, Long, Long)] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(r => (r._2, r._3)).transformWithState(
      new DensityCellProcessor, TimeMode.None(),
      OutputMode.Append())
  }
}

package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TTLConfig, ValueState}

/** Ingest-time twin of the batch agreement audit
  * ([[graft.operators.Agreement.cohenKappa]]): the contingency CELLS
  * (group, labelA, labelB) are the stream state — one long per
  * observed cell, alphabet²-bounded, never row-volume — and each
  * micro-batch re-emits the post-batch count for every cell it touched
  * (upsert semantics, the [[HistDriftStream]] pattern; a downstream
  * sink keeps the last row per cell).
  *
  * κ itself is a GLOBAL function of the whole cell table (it needs
  * every marginal), so it stays reader-side:
  * [[graft.operators.Agreement.kappaFromCells]] over the upserted
  * table IS the readout — batch == stream reduces to cell-table
  * equality, which holds under any arrival order, batch split, or
  * restart because cell counts are pure commutative sums
  * (StreamingSpec pins all three).
  *
  * In rows: (group, labelA, labelB) — pre-filter nulls (the batch
  * operator drops them; a keyed null would otherwise become a live
  * cell). Out rows: (group, labelA, labelB, n).
  */
class AgreementCellProcessor
    extends StatefulProcessor[(String, String, String),
      (String, String, String), (String, String, String, Long)] {

  @transient private var n: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    n = getHandle.getValueState[Long]("n", Encoders.scalaLong, TTLConfig.NONE)
  }

  override def handleInputRows(key: (String, String, String),
      rows: Iterator[(String, String, String)],
      timerValues: org.apache.spark.sql.streaming.TimerValues):
      Iterator[(String, String, String, Long)] = {
    val total = (if (n.exists()) n.get() else 0L) + rows.size
    n.update(total)
    Iterator.single((key._1, key._2, key._3, total))
  }
}

object AgreementStream {
  def cells(ds: Dataset[(String, String, String)]):
      Dataset[(String, String, String, Long)] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(identity).transformWithState(
      new AgreementCellProcessor, TimeMode.None(),
      OutputMode.Append())
  }
}
